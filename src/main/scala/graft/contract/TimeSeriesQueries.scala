package graft
package contract

import org.apache.spark.sql.functions._

import graft.sources.Tables
import Query.Batch

/** Time-series diagnostics (`graft.operators.TimeSeries`): ACF,
  * trend tests, decomposition, change points and backtests. */
private[contract] object TimeSeriesQueries {

  /** Generated per-lag UNION ALL oracle for [[q_acf]]: the same exact
    * DECIMAL moment sums and the same double expression tree per lag.
    * One product operand is widened to DECIMAL(19,2): DuckDB executes
    * width-≤18 decimal multiplies on the int64 path and overflows at
    * sf0.1's daily-revenue magnitudes (~1.6e7 → scaled product
    * ~2.5e18); width 19 forces the int128 path, values unchanged
    * (verified: the summed-to-double result equals the exact rational
    * correctly rounded). */
  private def acfSql: String = {
    val head =
      """WITH s AS (SELECT o_orderdate AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1),
              w AS (SELECT rev, """ +
        (1 to 7).map(k => s"lead(rev, $k) OVER (ORDER BY d) AS y$k").mkString(",\n                           ") +
        "\n                    FROM s)"
    val lags = (1 to 7).map { k =>
      s"""         SELECT $k AS lag, n_pairs, round((nd * sxy - sx * sy)
                / sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 6) AS acf
         FROM (SELECT CAST(count(*) AS BIGINT) AS n_pairs, CAST(count(*) AS DOUBLE) AS nd,
                      CAST(sum(rev) AS DOUBLE) AS sx, CAST(sum(y$k) AS DOUBLE) AS sy,
                      CAST(sum(CAST(rev AS DECIMAL(19,2)) * y$k) AS DOUBLE) AS sxy,
                      CAST(sum(CAST(rev AS DECIMAL(19,2)) * rev) AS DOUBLE) AS sxx,
                      CAST(sum(CAST(y$k AS DECIMAL(19,2)) * y$k) AS DOUBLE) AS syy
               FROM w WHERE y$k IS NOT NULL)"""
    }.mkString("\n         UNION ALL\n")
    head + "\n" + lags + "\n         ORDER BY lag"
  }

  /** [[acfSql]]'s portmanteau companion: Ljung–Box Q over lags 1..7 with
    * the fixed-mean autocorrelation expanded around exact HUGEINT cents
    * sums — numerator×n² = n²·Σxy − n·S·(H+T) + (n−k)·S², denominator×n²
    * = n·(n·SS − S²) — one double ratio per lag and the identical
    * left-fold Q chain. */
  private lazy val ljungBoxSql: String = {
    val m = 7
    val head =
      """WITH s AS (SELECT CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1),
              xs AS (SELECT d, CAST(rev * 100 AS HUGEINT) AS x FROM s),
              w AS (SELECT x, """ +
        (1 to m).map(k => s"lead(x, $k) OVER (ORDER BY d) AS y$k")
          .mkString(",\n                           ") +
        "\n                    FROM xs),\n" +
        """              a AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                           CAST(sum(x) AS HUGEINT) AS sm,
                           CAST(sum(x * x) AS HUGEINT) AS ss,
                           """ +
        (1 to m).map(k =>
          s"""CAST(count(y$k) AS HUGEINT) AS c$k,
                           CAST(sum(CASE WHEN y$k IS NOT NULL THEN x * y$k END) AS HUGEINT) AS sxy$k,
                           CAST(sum(CASE WHEN y$k IS NOT NULL THEN x END) AS HUGEINT) AS sh$k,
                           CAST(sum(y$k) AS HUGEINT) AS st$k""")
          .mkString(",\n                           ") +
        "\n                    FROM w),\n" +
        """              e AS (SELECT n, CAST(n AS DOUBLE) AS nd,
                           CAST(n * (n * ss - sm * sm) AS DOUBLE) AS den,
                           """ +
        (1 to m).map(k =>
          s"CAST(n * n * coalesce(sxy$k, 0) - n * sm * (coalesce(sh$k, 0) + coalesce(st$k, 0)) + c$k * sm * sm AS DOUBLE) AS num$k")
          .mkString(",\n                           ") +
        "\n                    FROM a)"
    val qSum = (1 to m)
      .map(k => s"(num$k / den) * (num$k / den) / (nd - $k.0)")
      .mkString(" + ")
    head +
      s"""
         SELECT CAST(n AS BIGINT) AS n_days, $m AS lags,
                round(CASE WHEN n > $m AND den <> 0
                           THEN nd * (nd + 2.0) * ($qSum) END, 6) AS q_stat
         FROM e"""
  }

  /** Grouped twin of [[ljungBoxSql]] — the priority partitions the lead
    * windows and the single moment aggregate; identical Q chain. */
  private lazy val ljungBoxBySql: String = {
    val m = 7
    """WITH s AS (SELECT o_orderpriority AS g, CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1, 2),
              xs AS (SELECT g, d, CAST(rev * 100 AS HUGEINT) AS x FROM s),
              w AS (SELECT g, x, """ +
      (1 to m).map(k => s"lead(x, $k) OVER (PARTITION BY g ORDER BY d) AS y$k")
        .mkString(",\n                           ") +
      "\n                    FROM xs),\n" +
      """              a AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
                           CAST(sum(x) AS HUGEINT) AS sm,
                           CAST(sum(x * x) AS HUGEINT) AS ss,
                           """ +
      (1 to m).map(k =>
        s"""CAST(count(y$k) AS HUGEINT) AS c$k,
                           CAST(sum(CASE WHEN y$k IS NOT NULL THEN x * y$k END) AS HUGEINT) AS sxy$k,
                           CAST(sum(CASE WHEN y$k IS NOT NULL THEN x END) AS HUGEINT) AS sh$k,
                           CAST(sum(y$k) AS HUGEINT) AS st$k""")
        .mkString(",\n                           ") +
      "\n                    FROM w GROUP BY 1),\n" +
      """              e AS (SELECT g, n, CAST(n AS DOUBLE) AS nd,
                           CAST(n * (n * ss - sm * sm) AS DOUBLE) AS den,
                           """ +
      (1 to m).map(k =>
        s"CAST(n * n * coalesce(sxy$k, 0) - n * sm * (coalesce(sh$k, 0) + coalesce(st$k, 0)) + c$k * sm * sm AS DOUBLE) AS num$k")
        .mkString(",\n                           ") +
      "\n                    FROM a)" +
      s"""
         SELECT g AS o_orderpriority, CAST(n AS BIGINT) AS n_days, $m AS lags,
                round(CASE WHEN n > $m AND den <> 0
                           THEN nd * (nd + 2.0) * (${(1 to m)
        .map(k => s"(num$k / den) * (num$k / den) / (nd - $k.0)")
        .mkString(" + ")}) END, 6) AS q_stat
         FROM e ORDER BY o_orderpriority"""
  }

  /** Grouped twin of [[acfSql]] — the priority partitions the lead
    * windows and every lag's moment aggregate. */
  private lazy val acfBySql: String = {
    val head =
      """WITH s AS (SELECT o_orderpriority AS g, o_orderdate AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1, 2),
              w AS (SELECT g, rev, """ +
        (1 to 7).map(k => s"lead(rev, $k) OVER (PARTITION BY g ORDER BY d) AS y$k")
          .mkString(",\n                           ") +
        "\n                    FROM s)"
    val lags = (1 to 7).map { k =>
      s"""         SELECT g AS o_orderpriority, $k AS lag, n_pairs, round((nd * sxy - sx * sy)
                / sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 6) AS acf
         FROM (SELECT g, CAST(count(*) AS BIGINT) AS n_pairs, CAST(count(*) AS DOUBLE) AS nd,
                      CAST(sum(rev) AS DOUBLE) AS sx, CAST(sum(y$k) AS DOUBLE) AS sy,
                      CAST(sum(CAST(rev AS DECIMAL(19,2)) * y$k) AS DOUBLE) AS sxy,
                      CAST(sum(CAST(rev AS DECIMAL(19,2)) * rev) AS DOUBLE) AS sxx,
                      CAST(sum(CAST(y$k AS DECIMAL(19,2)) * y$k) AS DOUBLE) AS syy
               FROM w WHERE y$k IS NOT NULL GROUP BY g)"""
    }.mkString("\n         UNION ALL\n")
    head + "\n" + lags + "\n         ORDER BY o_orderpriority, lag"
  }

  val all: Seq[Query] = Seq(
    // Last-touch revenue attribution: one union+running-window shuffle
    // (the AsOfJoin formulation) — no time-range join; 8 h lookback.
    Query("q_attribution", Batch, (s, d) =>
      graft.operators.TimeSeries.lastTouchAttribution(
        Tables.events(s, d), Seq("click", "view"), "purchase", windowMinutes = 480),
      // Same union+window formulation; touches sort before a same-instant
      // conversion, event_id totalizes same-instant touch order.
      """WITH t AS (SELECT event_id, user_id, ts, value,
                           event_type = 'purchase' AS is_conv,
                           CASE WHEN event_type <> 'purchase'
                                THEN {'t': ts, 'ch': event_type} END AS touch
                    FROM events WHERE event_type IN ('click', 'view', 'purchase')),
              w AS (SELECT *, last_value(touch IGNORE NULLS) OVER (
                      PARTITION BY user_id ORDER BY ts, is_conv, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt FROM t),
              p AS (SELECT CASE WHEN lt IS NOT NULL
                                 AND epoch_us(ts) - epoch_us(lt.t) <= 28800000000
                                THEN lt.ch ELSE 'direct' END AS channel, value
                    FROM w WHERE is_conv)
         SELECT channel, count(*) AS n_conversions,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM p GROUP BY 1 ORDER BY 1"""),

    // Autocorrelation of daily order revenue, lags 1..7 — exact-decimal
    // moment sums → one double cast, so Pearson r is bit-portable.
    Query("q_acf", Batch, (s, d) =>
      graft.operators.TimeSeries.autocorrelation(
        Tables.orders(s, d), "o_orderdate", col("o_totalprice"), maxLag = 7),
      acfSql),

    // Per-priority autocorrelation — does the weekly rhythm hold in every
    // segment? Same exact-decimal lag moments with every lead window and
    // aggregate partitioned by the priority over the (segment, day)
    // domain.
    Query("q_acf_by_priority", Batch, (s, d) =>
      graft.operators.TimeSeries.autocorrelationBy(
        Tables.orders(s, d), "o_orderdate", col("o_totalprice"),
        "o_orderpriority", maxLag = 7),
      acfBySql),

    // Ljung–Box Q over lags 1..7 of daily revenue — the one-number
    // whiteness gate (fixed-mean Box–Jenkins autocorrelations; exact
    // integer-cents numerator/denominator, one double ratio per lag,
    // fixed left-fold Q chain the oracle replays).
    Query("q_ljung_box", Batch, (s, d) =>
      graft.operators.TimeSeries.ljungBox(
        Tables.orders(s, d), "o_orderdate", col("o_totalprice"), maxLag = 7),
      // Fixed-mean autocorrelations expanded around exact HUGEINT cents
      // sums; the Q chain is spelled term by term in the same fold order.
      ljungBoxSql),

    // Wald–Wolfowitz runs test on daily revenue signs around the series
    // median — the distribution-free randomness companion to q_ljung_box
    // (sign runs only; exact integer counts, one double z chain).
    Query("q_runs_test", Batch, (s, d) =>
      graft.operators.TimeSeries.runsTest(
        Tables.orders(s, d), col("o_orderdate"), col("o_totalprice")),
      // Same discrete rank-((n+1)//2) median, sign runs via lag over the
      // day order, identical one-double z chain; median-tied days drop.
      """WITH s AS (SELECT CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1),
              c AS (SELECT CAST(count(*) AS BIGINT) AS c FROM s),
              med AS (SELECT rev AS med FROM
                        (SELECT rev, row_number() OVER (ORDER BY rev, d) AS rn FROM s), c
                      WHERE rn = (c + 1) // 2),
              sg AS (SELECT d, rev > med AS up FROM s, med WHERE rev <> med),
              t AS (SELECT up, lag(up, 1) OVER (ORDER BY d) AS prev FROM sg),
              a AS (SELECT CAST(count(CASE WHEN up THEN 1 END) AS BIGINT) AS n_plus,
                           CAST(count(CASE WHEN NOT up THEN 1 END) AS BIGINT) AS n_minus,
                           CAST(sum(CASE WHEN prev IS NOT NULL AND up <> prev
                                         THEN 1 ELSE 0 END) AS BIGINT) AS tr
                    FROM t),
              e AS (SELECT n_plus, n_minus,
                           CASE WHEN n_plus + n_minus > 0 THEN tr + 1 END AS runs,
                           CAST(n_plus AS DOUBLE) AS p, CAST(n_minus AS DOUBLE) AS q
                    FROM a)
         SELECT n_plus, n_minus, runs,
                round(CASE WHEN n_plus > 0 AND n_minus > 0
                                AND n_plus * n_minus * 2 > n_plus + n_minus
                           THEN (CAST(runs AS DOUBLE) - (2.0 * p * q / (p + q) + 1.0))
                                / sqrt(2.0 * p * q * (2.0 * p * q - (p + q))
                                       / ((p + q) * (p + q) * (p + q - 1.0))) END, 6) AS z_stat
         FROM e"""),

    // Per-priority Ljung–Box — is the serial structure corpus-wide or
    // one segment's? Same exact chain, segment riding every key.
    Query("q_ljung_box_by_priority", Batch, (s, d) =>
      graft.operators.TimeSeries.ljungBoxBy(
        Tables.orders(s, d), "o_orderdate", col("o_totalprice"),
        "o_orderpriority", maxLag = 7),
      // Grouped twin: the priority partitions the lead windows and the
      // moment aggregate; identical per-segment Q chain.
      ljungBoxBySql),

    // Per-priority runs test — each segment's sign pattern around ITS
    // OWN daily-revenue median; all-tied segments drop.
    Query("q_runs_test_by_priority", Batch, (s, d) =>
      graft.operators.TimeSeries.runsTestBy(
        Tables.orders(s, d), col("o_orderdate"), col("o_totalprice"),
        "o_orderpriority"),
      // Grouped twin: per-segment median rank pick, partitioned lag,
      // identical z chain; all-tied segments drop.
      """WITH s AS (SELECT o_orderpriority AS g, CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1, 2),
              c AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1),
              med AS (SELECT g, rev AS med FROM
                        (SELECT g, rev,
                                row_number() OVER (PARTITION BY g ORDER BY rev, d) AS rn
                         FROM s) JOIN c USING (g)
                      WHERE rn = (c + 1) // 2),
              sg AS (SELECT g, d, rev > med AS up FROM s JOIN med USING (g)
                     WHERE rev <> med),
              t AS (SELECT g, up, lag(up, 1) OVER (PARTITION BY g ORDER BY d) AS prev
                    FROM sg),
              a AS (SELECT g, CAST(count(CASE WHEN up THEN 1 END) AS BIGINT) AS n_plus,
                           CAST(count(CASE WHEN NOT up THEN 1 END) AS BIGINT) AS n_minus,
                           CAST(sum(CASE WHEN prev IS NOT NULL AND up <> prev
                                         THEN 1 ELSE 0 END) AS BIGINT) AS tr
                    FROM t GROUP BY 1),
              e AS (SELECT g, n_plus, n_minus,
                           CASE WHEN n_plus + n_minus > 0 THEN tr + 1 END AS runs,
                           CAST(n_plus AS DOUBLE) AS p, CAST(n_minus AS DOUBLE) AS q
                    FROM a)
         SELECT g AS o_orderpriority, n_plus, n_minus, runs,
                round(CASE WHEN n_plus > 0 AND n_minus > 0
                                AND n_plus * n_minus * 2 > n_plus + n_minus
                           THEN (CAST(runs AS DOUBLE) - (2.0 * p * q / (p + q) + 1.0))
                                / sqrt(2.0 * p * q * (2.0 * p * q - (p + q))
                                       / ((p + q) * (p + q) * (p + q - 1.0))) END, 6) AS z_stat
         FROM e ORDER BY o_orderpriority"""),

    // Classical additive decomposition of daily revenue — trend
    // (centered 7-day MA, exact-cents window sums), per-weekday seasonal
    // indices (7·x − Σ₇ detrending, sorted-fold centering), residual.
    Query("q_seasonal_decompose", Batch, (s, d) =>
      graft.operators.TimeSeries.seasonalDecompose(
        Tables.orders(s, d), col("o_orderdate"), col("o_totalprice")),
      // Same centered-window cents sums, 7x − Σ₇ detrending, sorted-fold
      // index centering and per-column double conversions.
      """WITH s AS (SELECT CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1),
              xs AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) % 7 AS BIGINT) AS dow07,
                            rev, CAST(rev * 100 AS HUGEINT) AS x FROM s),
              tw AS (SELECT d, dow07, rev, x,
                            CAST(sum(x) OVER w AS HUGEINT) AS t7,
                            CAST(count(*) OVER w AS BIGINT) AS c7
                     FROM xs WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
              tr AS (SELECT d, dow07, rev, t7, x * 7 - t7 AS detr7 FROM tw WHERE c7 = 7),
              prof AS (SELECT dow07, CAST(sum(detr7) AS HUGEINT) AS sd,
                              CAST(count(*) AS HUGEINT) AS cw FROM tr GROUP BY 1),
              m AS (SELECT list_sum(list_transform(
                             list_sort(list({'dow07': dow07, 'sd': sd, 'cw': cw})),
                             g -> CAST(g.sd AS DOUBLE) / (7.0 * CAST(g.cw AS DOUBLE))))
                           / CAST(count(*) AS DOUBLE) AS ms
                    FROM prof)
         SELECT CAST(tr.d AS TIMESTAMP) AS day, CAST(tr.rev AS DOUBLE) AS revenue,
                round(CAST(t7 AS DOUBLE) / 700.0, 6) AS trend,
                round((CAST(sd AS DOUBLE) / (7.0 * CAST(cw AS DOUBLE)) - ms) / 100.0, 6) AS seasonal,
                round(CAST(tr.rev AS DOUBLE) - CAST(t7 AS DOUBLE) / 700.0
                      - (CAST(sd AS DOUBLE) / (7.0 * CAST(cw AS DOUBLE)) - ms) / 100.0, 6) AS residual
         FROM tr JOIN prof USING (dow07), m
         ORDER BY day"""),

    // Seasonal Mann–Kendall (Hirsch–Slack): trend test immune to the
    // weekly cycle — same-weekday pairs only, per-season tie-corrected
    // variance summed, Sen median over within-season slopes.
    Query("q_mann_kendall_seasonal", Batch, (s, d) =>
      graft.operators.TimeSeries.mannKendallSeasonal(
        Tables.orders(s, d), col("o_orderdate"), col("o_totalprice")),
      // Same-weekday pair join, per-season base variance and tie terms in
      // HUGEINT, identical z chain and OFFSET rank pick for Sen's slope.
      """WITH s AS (SELECT CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1),
              e AS (SELECT CAST(date_diff('day', DATE '1970-01-01', d) % 7 AS BIGINT) AS w,
                           CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS dn,
                           CAST(rev * 100 AS HUGEINT) AS rc FROM s),
              p AS (SELECT a.dn AS i, b.dn AS j, a.rc AS xi, b.rc AS xj
                    FROM e a JOIN e b ON a.w = b.w AND b.dn > a.dn),
              sg AS (SELECT CAST(sum(CASE WHEN xj > xi THEN 1 WHEN xj < xi THEN -1 ELSE 0 END) AS BIGINT) AS sv,
                            CAST(count(*) AS BIGINT) AS m FROM p),
              nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
              vb AS (SELECT CAST(sum(nw * (nw - 1) * (nw * 2 + 5)) AS HUGEINT) AS vbase
                     FROM (SELECT CAST(count(*) AS HUGEINT) AS nw FROM e GROUP BY w) q),
              tc AS (SELECT CAST(coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (t * 2 + 5)), 0) AS HUGEINT) AS ties
                     FROM (SELECT count(*) AS t FROM e GROUP BY w, rc) q),
              vv AS (SELECT vbase - ties AS vnum FROM vb, tc),
              med AS (SELECT CAST(xj - xi AS DOUBLE) / (100.0 * (j - i)) AS sl FROM p
                      ORDER BY sl LIMIT 1 OFFSET (SELECT (m + 1) // 2 - 1 FROM sg))
         SELECT n AS n_days, sv AS s_stat,
                round(CASE WHEN vnum > 0 THEN
                  (CAST(sv AS DOUBLE) - (CASE WHEN sv > 0 THEN 1.0 WHEN sv < 0 THEN -1.0 ELSE 0.0 END))
                  / sqrt(CAST(vnum AS DOUBLE) / 18.0) END, 6) AS z_stat,
                (SELECT sl FROM med) AS sen_slope
         FROM nn, sg, vv"""),

    // Grouped seasonal twin — each priority's own seasonality-immune
    // trend (closes the grouped-gate convention: seasonal CUSUM got its
    // grouped form in r10, seasonal MK gets it here); pairs equi-join on
    // (segment, weekday) over the calendar-bounded day table, Sen + S
    // fused into ONE pair-domain consumption.
    Query("q_mann_kendall_seasonal_by_priority", Batch, (s, d) =>
      graft.operators.TimeSeries.mannKendallSeasonalBy(
        Tables.orders(s, d), col("o_orderpriority"), col("o_orderdate"),
        col("o_totalprice")),
      // Grouped seasonal twin: the Hirsch–Slack chains with the segment
      // riding every key — same-weekday pairs within each segment,
      // per-(segment, season) variance/tie terms rolled up per segment,
      // per-segment rank-(m+1)//2 Sen pick.
      """WITH s AS (SELECT o_orderpriority AS seg, CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1, 2),
              e AS (SELECT seg, CAST(date_diff('day', DATE '1970-01-01', d) % 7 AS BIGINT) AS w,
                           CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS dn,
                           CAST(rev * 100 AS HUGEINT) AS rc FROM s),
              p AS (SELECT a.seg, a.dn AS i, b.dn AS j, a.rc AS xi, b.rc AS xj
                    FROM e a JOIN e b ON a.seg = b.seg AND a.w = b.w AND b.dn > a.dn),
              sg AS (SELECT seg, CAST(sum(CASE WHEN xj > xi THEN 1 WHEN xj < xi THEN -1 ELSE 0 END) AS BIGINT) AS sv,
                            CAST(count(*) AS BIGINT) AS m FROM p GROUP BY 1),
              nn AS (SELECT seg, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1),
              vb AS (SELECT seg, CAST(sum(nw * (nw - 1) * (nw * 2 + 5)) AS HUGEINT) AS vbase
                     FROM (SELECT seg, CAST(count(*) AS HUGEINT) AS nw FROM e GROUP BY seg, w) q
                     GROUP BY 1),
              tc AS (SELECT seg, CAST(coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (t * 2 + 5)), 0) AS HUGEINT) AS ties
                     FROM (SELECT seg, count(*) AS t FROM e GROUP BY seg, w, rc) q GROUP BY 1),
              sl AS (SELECT seg, CAST(xj - xi AS DOUBLE) / (100.0 * (j - i)) AS sl,
                            row_number() OVER (PARTITION BY seg ORDER BY CAST(xj - xi AS DOUBLE) / (100.0 * (j - i))) AS rn
                     FROM p),
              med AS (SELECT sl.seg, sl.sl FROM sl JOIN sg ON sl.seg = sg.seg
                      WHERE sl.rn = (sg.m + 1) // 2)
         SELECT nn.seg AS segment, n AS n_days, sv AS s_stat,
                round(CASE WHEN vbase - ties > 0 THEN
                  (CAST(sv AS DOUBLE) - (CASE WHEN sv > 0 THEN 1.0 WHEN sv < 0 THEN -1.0 ELSE 0.0 END))
                  / sqrt(CAST(vbase - ties AS DOUBLE) / 18.0) END, 6) AS z_stat,
                med.sl AS sen_slope
         FROM nn JOIN sg ON nn.seg = sg.seg JOIN vb ON nn.seg = vb.seg
                 JOIN tc ON nn.seg = tc.seg JOIN med ON nn.seg = med.seg
         ORDER BY segment"""),

    // Two-level binary segmentation of the CUSUM — how many regime
    // shifts, and where? (global argmax, split, the same exact gate per
    // half; one bounded 1-row driver transfer derives the half flag).
    Query("q_cusum_binary_seg", Batch, (s, d) =>
      graft.operators.TimeSeries.cusumBinarySeg(
        Tables.orders(s, d), col("o_orderdate"), col("o_totalprice")),
      // Level 1 = the global argmax chain; level 2 replays it with the
      // half flag partitioning every window and total.
      """WITH s AS (SELECT CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1),
              e AS (SELECT d, CAST(rev * 100 AS HUGEINT) AS rc FROM s),
              c AS (SELECT d, rc, CAST(row_number() OVER (ORDER BY d) AS HUGEINT) AS i,
                           CAST(sum(rc) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum
                    FROM e),
              g AS (SELECT CAST(count(*) AS HUGEINT) AS dd, CAST(sum(rc) AS HUGEINT) AS t FROM e),
              k AS (SELECT d, i, cum, dd, t, abs(dd * cum - i * t) AS stat FROM c, g),
              l1 AS (SELECT 1 AS level, 'all' AS segment, CAST(dd AS BIGINT) AS n_days,
                            CAST(d AS TIMESTAMP) AS cp_day,
                            round(CAST(stat AS DOUBLE) / (CAST(dd AS DOUBLE) * 100.0), 6) AS cusum_max,
                            round(CAST(cum AS DOUBLE) / (CAST(i AS DOUBLE) * 100.0), 6) AS mean_before,
                            CASE WHEN dd > i THEN
                              round(CAST(t - cum AS DOUBLE) / (CAST(dd - i AS DOUBLE) * 100.0), 6)
                            END AS mean_after,
                            d AS cpd
                     FROM k ORDER BY stat DESC, d ASC LIMIT 1),
              h AS (SELECT e.d, e.rc,
                           CASE WHEN e.d <= (SELECT cpd FROM l1) THEN 'left' ELSE 'right' END AS seg
                    FROM e),
              c2 AS (SELECT seg, d, rc,
                            CAST(row_number() OVER (PARTITION BY seg ORDER BY d) AS HUGEINT) AS i,
                            CAST(sum(rc) OVER (PARTITION BY seg ORDER BY d
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum
                     FROM h),
              g2 AS (SELECT seg, CAST(count(*) AS HUGEINT) AS dd, CAST(sum(rc) AS HUGEINT) AS t
                     FROM h GROUP BY 1),
              k2 AS (SELECT c2.seg, d, i, cum, dd, t, abs(dd * cum - i * t) AS stat,
                            row_number() OVER (PARTITION BY c2.seg
                              ORDER BY abs(dd * cum - i * t) DESC, d ASC) AS rn
                     FROM c2 JOIN g2 ON c2.seg = g2.seg),
              l2 AS (SELECT 2 AS level, seg AS segment, CAST(dd AS BIGINT) AS n_days,
                            CAST(d AS TIMESTAMP) AS cp_day,
                            round(CAST(stat AS DOUBLE) / (CAST(dd AS DOUBLE) * 100.0), 6) AS cusum_max,
                            round(CAST(cum AS DOUBLE) / (CAST(i AS DOUBLE) * 100.0), 6) AS mean_before,
                            CASE WHEN dd > i THEN
                              round(CAST(t - cum AS DOUBLE) / (CAST(dd - i AS DOUBLE) * 100.0), 6)
                            END AS mean_after
                     FROM k2 WHERE rn = 1)
         SELECT level, segment, n_days, cp_day, cusum_max, mean_before, mean_after FROM l1
         UNION ALL
         SELECT level, segment, n_days, cp_day, cusum_max, mean_before, mean_after FROM l2
         ORDER BY level, segment"""),

    // Per-priority decomposition — each segment's own trend and weekday
    // profile; windows partitioned by segment, per-segment centering.
    Query("q_seasonal_decompose_by_priority", Batch, (s, d) =>
      graft.operators.TimeSeries.seasonalDecomposeBy(
        Tables.orders(s, d), col("o_orderdate"), col("o_totalprice"),
        "o_orderpriority"),
      // Grouped twin: segment partitions the centered windows; the weekday
      // profile and centering fold carry the segment key.
      """WITH s AS (SELECT o_orderpriority AS seg, CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1, 2),
              xs AS (SELECT seg, d, CAST(date_diff('day', DATE '1970-01-01', d) % 7 AS BIGINT) AS dow07,
                            rev, CAST(rev * 100 AS HUGEINT) AS x FROM s),
              tw AS (SELECT seg, d, dow07, rev, x,
                            CAST(sum(x) OVER w AS HUGEINT) AS t7,
                            CAST(count(*) OVER w AS BIGINT) AS c7
                     FROM xs WINDOW w AS (PARTITION BY seg ORDER BY d
                                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
              tr AS (SELECT seg, d, dow07, rev, t7, x * 7 - t7 AS detr7 FROM tw WHERE c7 = 7),
              prof AS (SELECT seg, dow07, CAST(sum(detr7) AS HUGEINT) AS sd,
                              CAST(count(*) AS HUGEINT) AS cw FROM tr GROUP BY 1, 2),
              m AS (SELECT seg, list_sum(list_transform(
                             list_sort(list({'dow07': dow07, 'sd': sd, 'cw': cw})),
                             g -> CAST(g.sd AS DOUBLE) / (7.0 * CAST(g.cw AS DOUBLE))))
                           / CAST(count(*) AS DOUBLE) AS ms
                    FROM prof GROUP BY 1)
         SELECT tr.seg AS o_orderpriority, CAST(tr.d AS TIMESTAMP) AS day,
                CAST(tr.rev AS DOUBLE) AS revenue,
                round(CAST(t7 AS DOUBLE) / 700.0, 6) AS trend,
                round((CAST(sd AS DOUBLE) / (7.0 * CAST(cw AS DOUBLE)) - ms) / 100.0, 6) AS seasonal,
                round(CAST(tr.rev AS DOUBLE) - CAST(t7 AS DOUBLE) / 700.0
                      - (CAST(sd AS DOUBLE) / (7.0 * CAST(cw AS DOUBLE)) - ms) / 100.0, 6) AS residual
         FROM tr JOIN prof ON tr.seg = prof.seg AND tr.dow07 = prof.dow07
                 JOIN m ON tr.seg = m.seg
         ORDER BY o_orderpriority, day"""),

    // Trailing-28-day anomaly gate on daily order revenue (current day
    // excluded from its own baseline; exact-decimal window sums; only
    // full-window days emitted) — the daily-metric pipeline monitor.
    Query("q_rolling_anomaly", Batch, (s, d) =>
      graft.operators.TimeSeries.rollingAnomaly(
        Tables.orders(s, d), col("o_orderdate"), col("o_totalprice")),
      // Same exact-integer-cents window algebra (order-free; the variance
      // numerator 28·Σx² − (Σx)² stays exact HUGEINT — the naive double
      // chain cancels catastrophically) and the identical one-cast chain.
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1),
              e AS (SELECT d, rev, CAST(rev * 100 AS HUGEINT) AS rc FROM d),
              w AS (SELECT d, rev, rc,
                           count(*) OVER win AS c,
                           CAST(sum(rc) OVER win AS HUGEINT) AS s,
                           CAST(sum(rc * rc) OVER win AS HUGEINT) AS ss
                    FROM e WINDOW win AS (ORDER BY d ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING))
         SELECT CAST(d AS TIMESTAMP) AS day, CAST(rev AS DOUBLE) AS revenue,
                round(CAST(s AS DOUBLE) / 2800.0, 6) AS roll_mean,
                round(sqrt(CAST(28 * ss - s * s AS DOUBLE) / 756.0) / 100.0, 6) AS roll_std,
                abs(CAST(rc AS DOUBLE) / 100.0 - CAST(s AS DOUBLE) / 2800.0)
                  > 3.0 * (sqrt(CAST(28 * ss - s * s AS DOUBLE) / 756.0) / 100.0) AS is_anomaly
         FROM w WHERE c = 28 ORDER BY day"""),

    // Per-priority trailing-28-day anomaly gate — the monitor a
    // marketplace actually runs (a segment's 3σ jump vanishes inside the
    // global total): per-(priority, day) pre-agg first, then the same
    // integer-cents window algebra partitioned by segment over the
    // calendar-bounded domain.
    Query("q_rolling_anomaly_by_segment", Batch, (s, d) =>
      graft.operators.TimeSeries.rollingAnomalyBy(
        Tables.orders(s, d), col("o_orderpriority"), col("o_orderdate"),
        col("o_totalprice")),
      // Grouped twin: the same integer-cents window algebra with the
      // pre-agg, the trailing frame and the full-window filter all
      // partitioned by the order priority.
      """WITH d AS (SELECT o_orderpriority AS seg, CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1, 2),
              e AS (SELECT seg, d, rev, CAST(rev * 100 AS HUGEINT) AS rc FROM d),
              w AS (SELECT seg, d, rev, rc,
                           count(*) OVER win AS c,
                           CAST(sum(rc) OVER win AS HUGEINT) AS s,
                           CAST(sum(rc * rc) OVER win AS HUGEINT) AS ss
                    FROM e WINDOW win AS (PARTITION BY seg ORDER BY d
                      ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING))
         SELECT seg AS segment, CAST(d AS TIMESTAMP) AS day, CAST(rev AS DOUBLE) AS revenue,
                round(CAST(s AS DOUBLE) / 2800.0, 6) AS roll_mean,
                round(sqrt(CAST(28 * ss - s * s AS DOUBLE) / 756.0) / 100.0, 6) AS roll_std,
                abs(CAST(rc AS DOUBLE) / 100.0 - CAST(s AS DOUBLE) / 2800.0)
                  > 3.0 * (sqrt(CAST(28 * ss - s * s AS DOUBLE) / 756.0) / 100.0) AS is_anomaly
         FROM w WHERE c = 28 ORDER BY segment, day"""),

    // CUSUM changepoint on daily order revenue — "WHEN did the level
    // shift?" (rolling_anomaly flags off-band days but absorbs a
    // sustained step into its own baseline). D-scaled exact-integer
    // statistic D·cum − i·T in DECIMAL(38,0) cents; argmax over the
    // day-domain, divisions only on the winning row.
    Query("q_cusum_changepoint", Batch, (s, d) =>
      graft.operators.TimeSeries.cusumChangepoint(
        Tables.orders(s, d), col("o_orderdate"), col("o_totalprice")),
      // Same D-scaled exact-integer CUSUM statistic in HUGEINT; argmax via
      // ORDER BY stat DESC, day ASC LIMIT 1; divisions on the winner only.
      """WITH s AS (SELECT CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1),
              e AS (SELECT d, CAST(rev * 100 AS HUGEINT) AS rc FROM s),
              c AS (SELECT d, rc,
                           CAST(row_number() OVER (ORDER BY d) AS HUGEINT) AS i,
                           CAST(sum(rc) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum
                    FROM e),
              g AS (SELECT CAST(count(*) AS HUGEINT) AS dd, CAST(sum(rc) AS HUGEINT) AS t FROM e),
              k AS (SELECT d, i, cum, dd, t, abs(dd * cum - i * t) AS stat FROM c, g)
         SELECT CAST(dd AS BIGINT) AS n_days, CAST(d AS TIMESTAMP) AS cp_day,
                round(CAST(stat AS DOUBLE) / (CAST(dd AS DOUBLE) * 100.0), 6) AS cusum_max,
                round(CAST(cum AS DOUBLE) / (CAST(i AS DOUBLE) * 100.0), 6) AS mean_before,
                CASE WHEN dd > i THEN
                  round(CAST(t - cum AS DOUBLE) / (CAST(dd - i AS DOUBLE) * 100.0), 6)
                END AS mean_after
         FROM k ORDER BY stat DESC, d ASC LIMIT 1"""),

    // Day-of-week band anomaly — the seasonal-profile gate: each day
    // judged against ITS weekday's own history (leave-one-out exact
    // integer-cents moments; a trailing band would flag every quiet
    // Sunday). Day-domain pre-agg + 7-row broadcast join, zero windows.
    Query("q_dow_anomaly", Batch, (s, d) =>
      graft.operators.TimeSeries.dowBandAnomaly(
        Tables.orders(s, d), col("o_orderdate"), col("o_totalprice")),
      // Same leave-one-out integer-cents algebra in HUGEINT, identical
      // one-conversion-per-column double chain.
      """WITH s AS (SELECT CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1),
              e AS (SELECT d, rev,
                           CAST(date_diff('day', DATE '1970-01-01', d) % 7 AS BIGINT) AS dow07,
                           CAST(rev * 100 AS HUGEINT) AS rc FROM s),
              p AS (SELECT dow07, CAST(count(*) AS HUGEINT) AS c,
                           CAST(sum(rc) AS HUGEINT) AS sm, CAST(sum(rc * rc) AS HUGEINT) AS ssm
                    FROM e GROUP BY 1 HAVING count(*) >= 3),
              j AS (SELECT e.d, e.rev, e.dow07, e.rc,
                           p.c - 1 AS c1, p.sm - e.rc AS s1, p.ssm - e.rc * e.rc AS ss1
                    FROM e JOIN p ON e.dow07 = p.dow07)
         SELECT CAST(d AS TIMESTAMP) AS day, dow07, CAST(rev AS DOUBLE) AS revenue,
                round(CAST(s1 AS DOUBLE) / (CAST(c1 AS DOUBLE) * 100.0), 6) AS dow_mean,
                round(sqrt(CAST(c1 * ss1 - s1 * s1 AS DOUBLE)
                           / (CAST(c1 AS DOUBLE) * (CAST(c1 AS DOUBLE) - 1.0))) / 100.0, 6) AS dow_std,
                abs(CAST(rc AS DOUBLE) / 100.0 - CAST(s1 AS DOUBLE) / (CAST(c1 AS DOUBLE) * 100.0))
                  > 3.0 * (sqrt(CAST(c1 * ss1 - s1 * s1 AS DOUBLE)
                                / (CAST(c1 AS DOUBLE) * (CAST(c1 AS DOUBLE) - 1.0))) / 100.0) AS is_anomaly
         FROM j ORDER BY day"""),

    // Grouped twin: each priority judged against its OWN weekday
    // profile (7·|segments|-row broadcast; same <3-obs per-cell drop).
    Query("q_dow_anomaly_by_priority", Batch, (s, d) =>
      graft.operators.TimeSeries.dowBandAnomalyBy(
        Tables.orders(s, d), col("o_orderpriority"), col("o_orderdate"),
        col("o_totalprice")),
      // Segment rides every key of the same leave-one-out HUGEINT algebra;
      // the per-(segment, weekday) profile applies the <3-obs drop per cell.
      """WITH s AS (SELECT o_orderpriority AS seg, CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1, 2),
              e AS (SELECT seg, d, rev,
                           CAST(date_diff('day', DATE '1970-01-01', d) % 7 AS BIGINT) AS dow07,
                           CAST(rev * 100 AS HUGEINT) AS rc FROM s),
              p AS (SELECT seg, dow07, CAST(count(*) AS HUGEINT) AS c,
                           CAST(sum(rc) AS HUGEINT) AS sm, CAST(sum(rc * rc) AS HUGEINT) AS ssm
                    FROM e GROUP BY 1, 2 HAVING count(*) >= 3),
              j AS (SELECT e.seg, e.d, e.rev, e.dow07, e.rc,
                           p.c - 1 AS c1, p.sm - e.rc AS s1, p.ssm - e.rc * e.rc AS ss1
                    FROM e JOIN p ON e.seg = p.seg AND e.dow07 = p.dow07)
         SELECT seg AS segment, CAST(d AS TIMESTAMP) AS day, dow07,
                CAST(rev AS DOUBLE) AS revenue,
                round(CAST(s1 AS DOUBLE) / (CAST(c1 AS DOUBLE) * 100.0), 6) AS dow_mean,
                round(sqrt(CAST(c1 * ss1 - s1 * s1 AS DOUBLE)
                           / (CAST(c1 AS DOUBLE) * (CAST(c1 AS DOUBLE) - 1.0))) / 100.0, 6) AS dow_std,
                abs(CAST(rc AS DOUBLE) / 100.0 - CAST(s1 AS DOUBLE) / (CAST(c1 AS DOUBLE) * 100.0))
                  > 3.0 * (sqrt(CAST(c1 * ss1 - s1 * s1 AS DOUBLE)
                                / (CAST(c1 AS DOUBLE) * (CAST(c1 AS DOUBLE) - 1.0))) / 100.0) AS is_anomaly
         FROM j ORDER BY segment, day"""),

    // Mann–Kendall trend + Sen's slope on daily order revenue — the
    // monotone-trend companion to the CUSUM step detector: S and its
    // tie-corrected variance as exact integers over the SF-invariant
    // calendar pair domain (day side broadcast), Sen's slope as the
    // discrete rank-⌈m/2⌉ pick via the bit-grid selection.
    Query("q_mann_kendall", Batch, (s, d) =>
      graft.operators.TimeSeries.mannKendallTrend(
        Tables.orders(s, d), col("o_orderdate"), col("o_totalprice")),
      // Same exact-integer S / Var(S) over the same day-pair domain; the
      // Sen median is the identical rank-(m+1)//2 discrete order statistic
      // (ORDER BY slope OFFSET pick — equal-slope ties pick equal values).
      """WITH s AS (SELECT CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1),
              e AS (SELECT CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS dn,
                           CAST(rev * 100 AS HUGEINT) AS rc FROM s),
              p AS (SELECT a.dn AS i, b.dn AS j, a.rc AS xi, b.rc AS xj
                    FROM e a JOIN e b ON b.dn > a.dn),
              sg AS (SELECT CAST(sum(CASE WHEN xj > xi THEN 1 WHEN xj < xi THEN -1 ELSE 0 END) AS BIGINT) AS sv,
                            CAST(count(*) AS BIGINT) AS m FROM p),
              nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM e),
              tc AS (SELECT CAST(coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (t * 2 + 5)), 0) AS HUGEINT) AS ties
                     FROM (SELECT count(*) AS t FROM e GROUP BY rc) q),
              vv AS (SELECT n * (n - 1) * (n * 2 + 5) - ties AS vnum FROM nn, tc),
              med AS (SELECT CAST(xj - xi AS DOUBLE) / (100.0 * (j - i)) AS sl FROM p
                      ORDER BY sl LIMIT 1 OFFSET (SELECT (m + 1) // 2 - 1 FROM sg))
         SELECT CAST(n AS BIGINT) AS n_days, sv AS s_stat,
                round(CASE WHEN vnum > 0 THEN
                  (CAST(sv AS DOUBLE) - (CASE WHEN sv > 0 THEN 1.0 WHEN sv < 0 THEN -1.0 ELSE 0.0 END))
                  / sqrt(CAST(vnum AS DOUBLE) / 18.0) END, 6) AS z_stat,
                (SELECT sl FROM med) AS sen_slope
         FROM nn, sg, vv"""),

    // Grouped twin: per-priority pair domain (equi-join on segment over
    // the calendar-bounded day table), per-segment Sen via the grouped
    // bit-grid selection.
    Query("q_mann_kendall_by_priority", Batch, (s, d) =>
      graft.operators.TimeSeries.mannKendallTrendBy(
        Tables.orders(s, d), col("o_orderpriority"), col("o_orderdate"),
        col("o_totalprice")),
      // Grouped twin: segment rides every chain; the Sen median is the
      // identical per-segment rank-(m+1)//2 pick (row_number vs m join).
      """WITH s AS (SELECT o_orderpriority AS seg, CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1, 2),
              e AS (SELECT seg, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS dn,
                           CAST(rev * 100 AS HUGEINT) AS rc FROM s),
              p AS (SELECT a.seg, a.dn AS i, b.dn AS j, a.rc AS xi, b.rc AS xj
                    FROM e a JOIN e b ON a.seg = b.seg AND b.dn > a.dn),
              sg AS (SELECT seg, CAST(sum(CASE WHEN xj > xi THEN 1 WHEN xj < xi THEN -1 ELSE 0 END) AS BIGINT) AS sv,
                            CAST(count(*) AS BIGINT) AS m FROM p GROUP BY 1),
              nn AS (SELECT seg, CAST(count(*) AS HUGEINT) AS n FROM e GROUP BY 1),
              tc AS (SELECT seg, CAST(coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (t * 2 + 5)), 0) AS HUGEINT) AS ties
                     FROM (SELECT seg, count(*) AS t FROM e GROUP BY seg, rc) q GROUP BY 1),
              sl AS (SELECT seg, CAST(xj - xi AS DOUBLE) / (100.0 * (j - i)) AS sl,
                            row_number() OVER (PARTITION BY seg ORDER BY CAST(xj - xi AS DOUBLE) / (100.0 * (j - i))) AS rn
                     FROM p),
              med AS (SELECT sl.seg, sl.sl FROM sl JOIN sg ON sl.seg = sg.seg
                      WHERE sl.rn = (sg.m + 1) // 2)
         SELECT nn.seg AS segment, CAST(n AS BIGINT) AS n_days, sv AS s_stat,
                round(CASE WHEN n * (n - 1) * (n * 2 + 5) - ties > 0 THEN
                  (CAST(sv AS DOUBLE) - (CASE WHEN sv > 0 THEN 1.0 WHEN sv < 0 THEN -1.0 ELSE 0.0 END))
                  / sqrt(CAST(n * (n - 1) * (n * 2 + 5) - ties AS DOUBLE) / 18.0) END, 6) AS z_stat,
                med.sl AS sen_slope
         FROM nn JOIN sg ON nn.seg = sg.seg JOIN tc ON nn.seg = tc.seg
                 JOIN med ON nn.seg = med.seg
         ORDER BY segment"""),

    // Naive-forecast backtest: lag-1 and seasonal lag-7 baselines
    // scored with exact-decimal MAE/RMSE/WAPE/bias (ratio-of-sums
    // forms; days without a lag source drop honestly).
    Query("q_forecast_backtest", Batch, (s, d) =>
      graft.operators.TimeSeries.forecastBacktest(
        Tables.orders(s, d), col("o_orderdate"), col("o_totalprice")),
      // Same exact-cents error sums in HUGEINT over the same epoch-day
      // lag joins; identical one-conversion-per-column double chains.
      """WITH s AS (SELECT CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1),
              e AS (SELECT CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS dn,
                           CAST(rev * 100 AS HUGEINT) AS rc FROM s),
              l AS (SELECT 'lag_1' AS model, a.rc - b.rc AS err, a.rc AS act
                    FROM e a JOIN e b ON a.dn = b.dn + 1
                    UNION ALL
                    SELECT 'lag_7' AS model, a.rc - b.rc AS err, a.rc AS act
                    FROM e a JOIN e b ON a.dn = b.dn + 7),
              g AS (SELECT model, CAST(count(*) AS HUGEINT) AS n,
                           sum(abs(err)) AS sae, sum(err * err) AS sse,
                           sum(abs(act)) AS sa, sum(err) AS se
                    FROM l GROUP BY 1)
         SELECT model, CAST(n AS BIGINT) AS n_days,
                round(CAST(sae AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 6) AS mae,
                round(sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 6) AS rmse,
                round(CAST(sae AS DOUBLE) / CAST(sa AS DOUBLE), 6) AS wape,
                round(CAST(se AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 6) AS bias
         FROM g ORDER BY model"""),

    // Grouped twin: per-priority predictability panel (lag joins on
    // (segment, epoch-day); |segments|·|lags| rows out).
    Query("q_forecast_backtest_by_priority", Batch, (s, d) =>
      graft.operators.TimeSeries.forecastBacktestBy(
        Tables.orders(s, d), col("o_orderpriority"), col("o_orderdate"),
        col("o_totalprice")),
      // Segment rides every key of the same exact-cents panel algebra.
      """WITH s AS (SELECT o_orderpriority AS seg, CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1, 2),
              e AS (SELECT seg, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS dn,
                           CAST(rev * 100 AS HUGEINT) AS rc FROM s),
              l AS (SELECT a.seg, 'lag_1' AS model, a.rc - b.rc AS err, a.rc AS act
                    FROM e a JOIN e b ON a.seg = b.seg AND a.dn = b.dn + 1
                    UNION ALL
                    SELECT a.seg, 'lag_7' AS model, a.rc - b.rc AS err, a.rc AS act
                    FROM e a JOIN e b ON a.seg = b.seg AND a.dn = b.dn + 7),
              g AS (SELECT seg, model, CAST(count(*) AS HUGEINT) AS n,
                           sum(abs(err)) AS sae, sum(err * err) AS sse,
                           sum(abs(act)) AS sa, sum(err) AS se
                    FROM l GROUP BY 1, 2)
         SELECT seg AS segment, model, CAST(n AS BIGINT) AS n_days,
                round(CAST(sae AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 6) AS mae,
                round(sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 6) AS rmse,
                round(CAST(sae AS DOUBLE) / CAST(sa AS DOUBLE), 6) AS wape,
                round(CAST(se AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 6) AS bias
         FROM g ORDER BY segment, model"""),

    // Forecast SKILL vs the seasonal-naive baseline (Hyndman–Koehler
    // MASE shape): matched-day MAE ratio against lag-7, mase(lag_7) ≡ 1
    // as the built-in self-check, skill = 1 − mase — closes the
    // forecasting loop the backtest panel opened (error without
    // judgment).
    Query("q_forecast_skill", Batch, (s, d) =>
      graft.operators.TimeSeries.forecastSkill(
        Tables.orders(s, d), col("o_orderdate"), col("o_totalprice")),
      // Matched-day MASE: both lag sources joined per model, HUGEINT |err|
      // sums, the identical guarded division chains.
      """WITH s AS (SELECT CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1),
              e AS (SELECT CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS dn,
                           CAST(rev * 100 AS HUGEINT) AS rc FROM s),
              l AS (SELECT 'lag_1' AS model, abs(a.rc - f.rc) AS aerr, abs(a.rc - b.rc) AS berr
                    FROM e a JOIN e f ON a.dn = f.dn + 1 JOIN e b ON a.dn = b.dn + 7
                    UNION ALL
                    SELECT 'lag_7' AS model, abs(a.rc - f.rc) AS aerr, abs(a.rc - b.rc) AS berr
                    FROM e a JOIN e f ON a.dn = f.dn + 7 JOIN e b ON a.dn = b.dn + 7),
              g AS (SELECT model, CAST(count(*) AS HUGEINT) AS n,
                           sum(aerr) AS sae, sum(berr) AS sbe
                    FROM l GROUP BY 1)
         SELECT model, CAST(n AS BIGINT) AS n_days,
                round(CAST(sae AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 6) AS mae,
                round(CAST(sbe AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 6) AS baseline_mae,
                CASE WHEN sbe > 0 THEN round(CAST(sae AS DOUBLE) / CAST(sbe AS DOUBLE), 6) END AS mase,
                CASE WHEN sbe > 0 THEN round(1.0 - CAST(sae AS DOUBLE) / CAST(sbe AS DOUBLE), 6) END AS skill
         FROM g ORDER BY model"""),

    // Grouped twin: per-priority weekday-adjusted step hunt (medians
    // per (segment, weekday), CUSUM partitioned by segment).
    Query("q_cusum_seasonal_by_priority", Batch, (s, d) =>
      graft.operators.TimeSeries.cusumSeasonalAdjustedBy(
        Tables.orders(s, d), col("o_orderpriority"), col("o_orderdate"),
        col("o_totalprice")),
      // Same per-(segment, weekday) median pick + segment-partitioned
      // D-scaled residual CUSUM; identical winner-only double chain.
      """WITH s AS (SELECT o_orderpriority AS seg, CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1, 2),
              e AS (SELECT seg, d, CAST(date_diff('day', DATE '1970-01-01', d) % 7 AS BIGINT) AS dow07,
                           CAST(rev * 100 AS HUGEINT) AS rc FROM s),
              rk AS (SELECT seg, dow07, rc,
                            row_number() OVER (PARTITION BY seg, dow07 ORDER BY rc) AS rn,
                            count(*) OVER (PARTITION BY seg, dow07) AS c
                     FROM e),
              md AS (SELECT seg, dow07, rc AS med FROM rk WHERE rn = (c + 1) // 2),
              r AS (SELECT e.seg, d, e.rc - md.med AS rr
                    FROM e JOIN md ON e.seg = md.seg AND e.dow07 = md.dow07),
              c AS (SELECT seg, d, rr,
                           CAST(row_number() OVER (PARTITION BY seg ORDER BY d) AS HUGEINT) AS i,
                           CAST(sum(rr) OVER (PARTITION BY seg ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum
                    FROM r),
              g AS (SELECT seg, CAST(count(*) AS HUGEINT) AS dd, CAST(sum(rr) AS HUGEINT) AS t
                    FROM r GROUP BY 1),
              k AS (SELECT c.seg, d, i, cum, dd, t, abs(dd * cum - i * t) AS stat,
                           row_number() OVER (PARTITION BY c.seg ORDER BY abs(dd * cum - i * t) DESC, d ASC) AS rn
                    FROM c JOIN g ON c.seg = g.seg)
         SELECT seg AS segment, CAST(dd AS BIGINT) AS n_days, CAST(d AS TIMESTAMP) AS cp_day,
                round(CAST(stat AS DOUBLE) / (CAST(dd AS DOUBLE) * 100.0), 6) AS cusum_max,
                round(CAST(cum AS DOUBLE) / (CAST(i AS DOUBLE) * 100.0), 6) AS mean_resid_before,
                CASE WHEN dd > i THEN
                  round(CAST(t - cum AS DOUBLE) / (CAST(dd - i AS DOUBLE) * 100.0), 6)
                END AS mean_resid_after
         FROM k WHERE rn = 1 ORDER BY segment"""),

    // Weekday-adjusted CUSUM — the step detector net of weekly
    // seasonality: residuals against the per-weekday MEDIAN (discrete
    // exact-cents pick, itself robust to the hunted step), then the
    // same D-scaled integer CUSUM on residual cents.
    Query("q_cusum_seasonal", Batch, (s, d) =>
      graft.operators.TimeSeries.cusumSeasonalAdjusted(
        Tables.orders(s, d), col("o_orderdate"), col("o_totalprice")),
      // Same D-scaled CUSUM on residual cents against the per-weekday
      // rank-(c+1)//2 median pick; identical winner-only double chain.
      """WITH s AS (SELECT CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1),
              e AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) % 7 AS BIGINT) AS dow07,
                           CAST(rev * 100 AS HUGEINT) AS rc FROM s),
              rk AS (SELECT dow07, rc,
                            row_number() OVER (PARTITION BY dow07 ORDER BY rc) AS rn,
                            count(*) OVER (PARTITION BY dow07) AS c
                     FROM e),
              md AS (SELECT dow07, rc AS med FROM rk WHERE rn = (c + 1) // 2),
              r AS (SELECT d, e.rc - md.med AS rr FROM e JOIN md ON e.dow07 = md.dow07),
              c AS (SELECT d, rr,
                           CAST(row_number() OVER (ORDER BY d) AS HUGEINT) AS i,
                           CAST(sum(rr) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum
                    FROM r),
              g AS (SELECT CAST(count(*) AS HUGEINT) AS dd, CAST(sum(rr) AS HUGEINT) AS t FROM r),
              k AS (SELECT d, i, cum, dd, t, abs(dd * cum - i * t) AS stat FROM c, g)
         SELECT CAST(dd AS BIGINT) AS n_days, CAST(d AS TIMESTAMP) AS cp_day,
                round(CAST(stat AS DOUBLE) / (CAST(dd AS DOUBLE) * 100.0), 6) AS cusum_max,
                round(CAST(cum AS DOUBLE) / (CAST(i AS DOUBLE) * 100.0), 6) AS mean_resid_before,
                CASE WHEN dd > i THEN
                  round(CAST(t - cum AS DOUBLE) / (CAST(dd - i AS DOUBLE) * 100.0), 6)
                END AS mean_resid_after
         FROM k ORDER BY stat DESC, d ASC LIMIT 1"""),

    // Per-priority CUSUM changepoint — each segment's own step date (a
    // segment's step smears into a ramp inside the global total).
    Query("q_cusum_changepoint_by_priority", Batch, (s, d) =>
      graft.operators.TimeSeries.cusumChangepointBy(
        Tables.orders(s, d), col("o_orderpriority"), col("o_orderdate"),
        col("o_totalprice")),
      // Grouped twin: pre-agg, cumulatives, totals and the argmax pick all
      // partitioned by the order priority.
      """WITH s AS (SELECT o_orderpriority AS seg, CAST(o_orderdate AS DATE) AS d,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1, 2),
              e AS (SELECT seg, d, CAST(rev * 100 AS HUGEINT) AS rc FROM s),
              c AS (SELECT seg, d, rc,
                           CAST(row_number() OVER (PARTITION BY seg ORDER BY d) AS HUGEINT) AS i,
                           CAST(sum(rc) OVER (PARTITION BY seg ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum
                    FROM e),
              g AS (SELECT seg, CAST(count(*) AS HUGEINT) AS dd, CAST(sum(rc) AS HUGEINT) AS t
                    FROM e GROUP BY 1),
              k AS (SELECT c.seg, d, i, cum, dd, t, abs(dd * cum - i * t) AS stat,
                           row_number() OVER (PARTITION BY c.seg ORDER BY abs(dd * cum - i * t) DESC, d ASC) AS rn
                    FROM c JOIN g ON c.seg = g.seg)
         SELECT seg AS segment, CAST(dd AS BIGINT) AS n_days, CAST(d AS TIMESTAMP) AS cp_day,
                round(CAST(stat AS DOUBLE) / (CAST(dd AS DOUBLE) * 100.0), 6) AS cusum_max,
                round(CAST(cum AS DOUBLE) / (CAST(i AS DOUBLE) * 100.0), 6) AS mean_before,
                CASE WHEN dd > i THEN
                  round(CAST(t - cum AS DOUBLE) / (CAST(dd - i AS DOUBLE) * 100.0), 6)
                END AS mean_after
         FROM k WHERE rn = 1 ORDER BY segment"""),
  )
}
