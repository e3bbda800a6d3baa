package graft
package contract

import org.apache.spark.sql.functions._

import graft.functions._
import graft.sources.Tables
import Query.Batch

/** Poisson-bootstrap confidence intervals (`graft.operators.Bootstrap`). */
private[contract] object BootstrapQueries {

  /** Poisson-bootstrap oracle: the integer cutoffs interpolate from
    * [[graft.operators.Bootstrap.PoissonCutoffs]] — the shared-constant
    * pattern ([[graft.operators.Curation.JsVocabSize]]), so the two
    * engines' inverse-CDF draws cannot silently diverge. */
  private lazy val bootstrapCiSql: String = {
    val w = graft.operators.Bootstrap.PoissonCutoffs
      .map(c => s"(CASE WHEN u >= $c THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH b AS (SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS v
                   FROM orders WHERE o_totalprice IS NOT NULL),
            r AS (SELECT v,
                         ${PortableHash.keyHashSql("k")} AS h,
                         unnest(range(0, 64)) AS j FROM b),
            x AS (SELECT v, j, (h + j * 1000003) % 1000000007 AS x FROM r),
            u AS (SELECT v, j,
                         ${PortableHash.replicateUniformSqlX("x")} AS u
                  FROM x),
            w AS (SELECT v, j, $w AS w FROM u),
            pr AS (SELECT j, CASE WHEN sum(w) > 0
                                  THEN round(CAST(sum(v * w) AS DOUBLE) / sum(w), 6) END AS m
                   FROM w GROUP BY 1),
            ms AS (SELECT list(m ORDER BY m) FILTER (WHERE m IS NOT NULL) AS ms FROM pr),
            t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean FROM b)
       SELECT n, mean,
              ms[CAST((len(ms) * 25 + 999) // 1000 AS INT)] AS ci_lo,
              ms[CAST((len(ms) * 975 + 999) // 1000 AS INT)] AS ci_hi
       FROM t, ms"""
  }

  /** Median twin of [[bootstrapCiSql]]: the same per-(row, replicate)
    * draws feed per-replicate WEIGHTED MEDIAN selections (first value
    * whose weighted cumulative crosses ⌈W_j/2⌉ in value order — the
    * discrete [[graft.operators.Robust]] rank rule, tie-invariant), the
    * point estimate the unweighted rank-⌈n/2⌉ value, CI from the sorted
    * replicate medians' discrete order statistics. */
  private lazy val bootstrapMedianSql: String = {
    val w = graft.operators.Bootstrap.PoissonCutoffs
      .map(c => s"(CASE WHEN u >= $c THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH b AS (SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS v
                   FROM orders WHERE o_totalprice IS NOT NULL),
            r AS (SELECT v,
                         ${PortableHash.keyHashSql("k")} AS h,
                         unnest(range(0, 64)) AS j FROM b),
            x AS (SELECT v, j, (h + j * 1000003) % 1000000007 AS x FROM r),
            u AS (SELECT v, j,
                         ${PortableHash.replicateUniformSqlX("x")} AS u
                  FROM x),
            w AS (SELECT v, j, $w AS w FROM u),
            cw AS (SELECT j, v,
                          sum(w) OVER (PARTITION BY j ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                          sum(w) OVER (PARTITION BY j) AS tot
                   FROM w),
            sel AS (SELECT j, min(v) AS m FROM cw
                    WHERE tot > 0 AND cum >= (tot + 1) // 2 GROUP BY j),
            med AS (SELECT min(v) AS med FROM
                     (SELECT v,
                             sum(1) OVER (ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rn,
                             count(*) OVER () AS nn
                      FROM b)
                    WHERE rn >= (nn + 1) // 2),
            ms AS (SELECT list(m ORDER BY m) AS ms FROM sel),
            t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b)
       SELECT n, CAST(med AS DOUBLE) AS median,
              CAST(ms[CAST((len(ms) * 25 + 999) // 1000 AS INT)] AS DOUBLE) AS ci_lo,
              CAST(ms[CAST((len(ms) * 975 + 999) // 1000 AS INT)] AS DOUBLE) AS ci_hi
       FROM t, med, ms"""
  }

  /** Grouped twin of [[bootstrapMedianSql]] — every window, selection and
    * fold partitioned by the priority. */
  private lazy val bootstrapMedianBySql: String = {
    val w = graft.operators.Bootstrap.PoissonCutoffs
      .map(c => s"(CASE WHEN u >= $c THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH b AS (SELECT o_orderpriority AS g, o_orderkey AS k,
                          CAST(o_totalprice AS DECIMAL(18,2)) AS v
                   FROM orders WHERE o_totalprice IS NOT NULL),
            r AS (SELECT g, v,
                         ${PortableHash.keyHashSql("k")} AS h,
                         unnest(range(0, 64)) AS j FROM b),
            x AS (SELECT g, v, j, (h + j * 1000003) % 1000000007 AS x FROM r),
            u AS (SELECT g, v, j,
                         ${PortableHash.replicateUniformSqlX("x")} AS u
                  FROM x),
            w AS (SELECT g, v, j, $w AS w FROM u),
            cw AS (SELECT g, j, v,
                          sum(w) OVER (PARTITION BY g, j ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                          sum(w) OVER (PARTITION BY g, j) AS tot
                   FROM w),
            sel AS (SELECT g, j, min(v) AS m FROM cw
                    WHERE tot > 0 AND cum >= (tot + 1) // 2 GROUP BY g, j),
            med AS (SELECT g, min(v) AS med FROM
                     (SELECT g, v,
                             sum(1) OVER (PARTITION BY g ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rn,
                             count(*) OVER (PARTITION BY g) AS nn
                      FROM b)
                    WHERE rn >= (nn + 1) // 2 GROUP BY g),
            ms AS (SELECT g, list(m ORDER BY m) AS ms FROM sel GROUP BY g),
            t AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY g)
       SELECT t.g AS o_orderpriority, n, CAST(med AS DOUBLE) AS median,
              CAST(ms.ms[CAST((len(ms.ms) * 25 + 999) // 1000 AS INT)] AS DOUBLE) AS ci_lo,
              CAST(ms.ms[CAST((len(ms.ms) * 975 + 999) // 1000 AS INT)] AS DOUBLE) AS ci_hi
       FROM t JOIN med ON t.g = med.g JOIN ms ON t.g = ms.g
       ORDER BY 1"""
  }

  /** Uplift twin of [[bootstrapCiSql]] — the same draws (weights seed by
    * row key alone), two arm-tagged sums per replicate, the replicate
    * statistic a DIFFERENCE of arm means; the double chain (cast-divide,
    * cast-divide, subtract, round) mirrors the operator term-for-term. */
  private lazy val bootstrapUpliftSql: String = {
    val w = graft.operators.Bootstrap.PoissonCutoffs
      .map(c => s"(CASE WHEN u >= $c THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH b AS (SELECT o_orderkey AS k, o_custkey % 2 AS arm,
                          CAST(o_totalprice AS DECIMAL(18,2)) AS v
                   FROM orders
                   WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL),
            r AS (SELECT arm, v,
                         ${PortableHash.keyHashSql("k")} AS h,
                         unnest(range(0, 64)) AS j FROM b),
            x AS (SELECT arm, v, j, (h + j * 1000003) % 1000000007 AS x FROM r),
            u AS (SELECT arm, v, j,
                         ${PortableHash.replicateUniformSqlX("x")} AS u
                  FROM x),
            w AS (SELECT arm, v, j, $w AS w FROM u),
            pr AS (SELECT j,
                          CASE WHEN sum(CASE WHEN arm = 1 THEN w ELSE 0 END) > 0
                                AND sum(CASE WHEN arm = 0 THEN w ELSE 0 END) > 0
                               THEN round(CAST(sum(CASE WHEN arm = 1 THEN v * w END) AS DOUBLE)
                                            / sum(CASE WHEN arm = 1 THEN w ELSE 0 END)
                                          - CAST(sum(CASE WHEN arm = 0 THEN v * w END) AS DOUBLE)
                                            / sum(CASE WHEN arm = 0 THEN w ELSE 0 END), 6)
                          END AS m
                   FROM w GROUP BY 1),
            ms AS (SELECT list(m ORDER BY m) FILTER (WHERE m IS NOT NULL) AS ms FROM pr),
            t AS (SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                         CASE WHEN sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) > 0
                               AND sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) > 0
                              THEN round(CAST(sum(CASE WHEN arm = 1 THEN v END) AS DOUBLE)
                                           / sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                                         - CAST(sum(CASE WHEN arm = 0 THEN v END) AS DOUBLE)
                                           / sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END), 6)
                         END AS uplift
                  FROM b)
       SELECT n_a, n_b, uplift,
              ms[CAST((len(ms) * 25 + 999) // 1000 AS INT)] AS ci_lo,
              ms[CAST((len(ms) * 975 + 999) // 1000 AS INT)] AS ci_hi
       FROM t, ms"""
  }

  /** Grouped twin of [[bootstrapUpliftSql]] — the same two-arm replicate
    * sums and fold with every relation keyed by the priority. */
  private lazy val bootstrapUpliftBySql: String = {
    val w = graft.operators.Bootstrap.PoissonCutoffs
      .map(c => s"(CASE WHEN u >= $c THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH b AS (SELECT o_orderpriority AS g, o_orderkey AS k, o_custkey % 2 AS arm,
                          CAST(o_totalprice AS DECIMAL(18,2)) AS v
                   FROM orders
                   WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL),
            r AS (SELECT g, arm, v,
                         ${PortableHash.keyHashSql("k")} AS h,
                         unnest(range(0, 64)) AS j FROM b),
            x AS (SELECT g, arm, v, j, (h + j * 1000003) % 1000000007 AS x FROM r),
            u AS (SELECT g, arm, v, j,
                         ${PortableHash.replicateUniformSqlX("x")} AS u
                  FROM x),
            w AS (SELECT g, arm, v, j, $w AS w FROM u),
            pr AS (SELECT g, j,
                          CASE WHEN sum(CASE WHEN arm = 1 THEN w ELSE 0 END) > 0
                                AND sum(CASE WHEN arm = 0 THEN w ELSE 0 END) > 0
                               THEN round(CAST(sum(CASE WHEN arm = 1 THEN v * w END) AS DOUBLE)
                                            / sum(CASE WHEN arm = 1 THEN w ELSE 0 END)
                                          - CAST(sum(CASE WHEN arm = 0 THEN v * w END) AS DOUBLE)
                                            / sum(CASE WHEN arm = 0 THEN w ELSE 0 END), 6)
                          END AS m
                   FROM w GROUP BY 1, 2),
            ms AS (SELECT g, list(m ORDER BY m) FILTER (WHERE m IS NOT NULL) AS ms
                   FROM pr GROUP BY 1),
            t AS (SELECT g,
                         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                         CASE WHEN sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) > 0
                               AND sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) > 0
                              THEN round(CAST(sum(CASE WHEN arm = 1 THEN v END) AS DOUBLE)
                                           / sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                                         - CAST(sum(CASE WHEN arm = 0 THEN v END) AS DOUBLE)
                                           / sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END), 6)
                         END AS uplift
                  FROM b GROUP BY 1)
       SELECT t.g AS o_orderpriority, n_a, n_b, uplift,
              ms.ms[CAST((len(ms.ms) * 25 + 999) // 1000 AS INT)] AS ci_lo,
              ms.ms[CAST((len(ms.ms) * 975 + 999) // 1000 AS INT)] AS ci_hi
       FROM t JOIN ms ON t.g = ms.g
       ORDER BY 1"""
  }

  /** Grouped twin of [[bootstrapCiSql]] — the same interpolated cutoffs,
    * every aggregate and fold keyed by the priority. */
  private lazy val bootstrapCiBySql: String = {
    val w = graft.operators.Bootstrap.PoissonCutoffs
      .map(c => s"(CASE WHEN u >= $c THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH b AS (SELECT o_orderpriority AS g, o_orderkey AS k,
                          CAST(o_totalprice AS DECIMAL(18,2)) AS v
                   FROM orders WHERE o_totalprice IS NOT NULL),
            r AS (SELECT g, v,
                         ${PortableHash.keyHashSql("k")} AS h,
                         unnest(range(0, 64)) AS j FROM b),
            x AS (SELECT g, v, j, (h + j * 1000003) % 1000000007 AS x FROM r),
            u AS (SELECT g, v, j,
                         ${PortableHash.replicateUniformSqlX("x")} AS u
                  FROM x),
            w AS (SELECT g, v, j, $w AS w FROM u),
            pr AS (SELECT g, j, CASE WHEN sum(w) > 0
                                     THEN round(CAST(sum(v * w) AS DOUBLE) / sum(w), 6) END AS m
                   FROM w GROUP BY 1, 2),
            ms AS (SELECT g, list(m ORDER BY m) FILTER (WHERE m IS NOT NULL) AS ms
                   FROM pr GROUP BY 1),
            t AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                         round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean
                  FROM b GROUP BY 1)
       SELECT t.g AS o_orderpriority, n, mean,
              ms.ms[CAST((len(ms.ms) * 25 + 999) // 1000 AS INT)] AS ci_lo,
              ms.ms[CAST((len(ms.ms) * 975 + 999) // 1000 AS INT)] AS ci_hi
       FROM t JOIN ms ON t.g = ms.g
       ORDER BY 1"""
  }

  val all: Seq[Query] = Seq(
    // Poisson-bootstrap 95% CI of the mean order value — error bars in
    // ONE pass (the Chamandy web-scale recipe): per-(row, replicate)
    // Poisson(1) weights from integer-exact hash CDF inversion, 64
    // replicate means as map-side-combined decimal sums, discrete order
    // statistics at the integer rank targets.
    Query("q_bootstrap_ci", Batch, (s, d) =>
      graft.operators.Bootstrap.bootstrapMeanCi(
        Tables.orders(s, d), col("o_orderkey"), col("o_totalprice")),
      // Same integer hash, the same shared Poisson cutoffs (interpolated
      // from Bootstrap.PoissonCutoffs so the engines cannot drift), the
      // same decimal replicate sums and discrete rank picks.
      bootstrapCiSql),

    // Per-priority bootstrap CI — error bars for every segment's mean in
    // the same one pass ("is segment X really higher, or is its n too
    // small to tell?"); weights identical to the global draw (the key
    // seeds them), per-(segment, replicate) decimal sums, in-plan rank
    // picks per segment.
    Query("q_bootstrap_ci_by_priority", Batch, (s, d) =>
      graft.operators.Bootstrap.bootstrapMeanCiBy(
        Tables.orders(s, d), col("o_orderkey"), col("o_totalprice"),
        "o_orderpriority"),
      // Grouped twin: identical draws (the key seeds the weights, not the
      // segment), every sum/fold/rank pick partitioned by the priority.
      bootstrapCiBySql),

    // Bootstrap CI of the MEDIAN — error bars on the robust-stats
    // family's own statistic: the Poisson replicate weights flow into
    // the bit-grid selection machinery as R+1 weight columns (one grid
    // summary, R+1 driver rank brackets, one fused slice with weights
    // recomputed in-plan from the key), CI from the discrete order
    // statistics of the R replicate medians.
    Query("q_bootstrap_median", Batch, (s, d) =>
      graft.operators.Bootstrap.bootstrapMedianCi(
        Tables.orders(s, d), col("o_orderkey"), col("o_totalprice")),
      bootstrapMedianSql),

    // Per-priority median CI — the grouped form of the median error bar
    // (draws seed by the key, so each segment's CI is bit-identical to
    // the global operator on that slice); per-(segment, bucket) grid
    // summaries under the grouped-selection ceiling, (segment,
    // replicate)-partitioned slice windows.
    Query("q_bootstrap_median_by_priority", Batch, (s, d) =>
      graft.operators.Bootstrap.bootstrapMedianCiBy(
        Tables.orders(s, d), col("o_orderkey"), col("o_totalprice"),
        "o_orderpriority"),
      bootstrapMedianBySql),

    // Bootstrap CI of the A/B effect size — "the uplift is X ± Y", the
    // distribution-free companion to the Welch/MW significance gates on
    // the SAME arm split: per replicate, the one shared weight stream
    // (seeded by row key alone) feeds two arm-tagged decimal sums, the
    // replicate statistic is the difference of arm means, CI from the R
    // sorted differences' discrete order statistics.
    Query("q_bootstrap_uplift", Batch, (s, d) =>
      graft.operators.Bootstrap.bootstrapUpliftCi(
        Tables.orders(s, d), col("o_orderkey"),
        pmod(col("o_custkey"), lit(2L)), col("o_totalprice")),
      bootstrapUpliftSql),

    // Per-priority uplift CI — the quantified heterogeneous-treatment
    // screen ("+X ± Y overall, but −A ± B in segment Z"): the same
    // key-seeded draws with the segment riding every aggregation key,
    // per-(segment, replicate) two-arm decimal sums, in-plan per-segment
    // rank picks.
    Query("q_bootstrap_uplift_by_priority", Batch, (s, d) =>
      graft.operators.Bootstrap.bootstrapUpliftCiBy(
        Tables.orders(s, d), col("o_orderkey"),
        pmod(col("o_custkey"), lit(2L)), col("o_totalprice"),
        "o_orderpriority"),
      bootstrapUpliftBySql),
  )
}
