package graft
package contract

import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.Dedup
import graft.sources.Tables
import graft.transform.{DimTime, Transforms}
import Query.Batch
import Common._

/** Transforms, rollups, windows and subqueries. */
private[contract] object TransformQueries {

  /** Gap-free month spine via WITH RECURSIVE — valid in BOTH Spark 4 and
    * DuckDB verbatim; each engine runs its own recursion (Spark: UnionLoop;
    * DuckDB: recursive union) and must converge to the same spine. The
    * count is cast for DuckDB's wider aggregate type. */
  private val RecursiveMonthsSql: String =
    """WITH RECURSIVE months(m) AS (
      |  SELECT date_trunc('month', (SELECT min(o_orderdate) FROM orders)) AS m
      |  UNION ALL
      |  SELECT m + INTERVAL '1' MONTH FROM months
      |  WHERE m < (SELECT date_trunc('month', max(o_orderdate)) FROM orders)
      |)
      |SELECT m AS month_start,
      |       CAST(count(o_orderkey) AS BIGINT) AS n_orders
      |FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
      |GROUP BY m ORDER BY m""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q_revenue_recompute", Batch, (s, d) =>
      Transforms.withRevenue(Tables.lineitem(s, d))
        .select(col("l_orderkey"), col("l_linenumber"), col("revenue"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("revenue")),
      """SELECT l_orderkey, l_linenumber,
                CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2)) AS DOUBLE) AS revenue
         FROM lineitem ORDER BY l_orderkey, l_linenumber, revenue"""),

    Query("q_ltv", Batch, (s, d) =>
      Transforms.lifetimeValue(Tables.customer(s, d), Tables.orders(s, d))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey, c_name,
                coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS lifetime_value
         FROM customer LEFT JOIN orders ON o_custkey = c_custkey
         GROUP BY c_custkey, c_name ORDER BY c_custkey"""),

    Query("q_daily_sales", Batch, (s, d) =>
      Transforms.dailySales(Tables.lineitem(s, d), Tables.orders(s, d), Tables.part(s, d))
        .orderBy(col("sale_date"), col("p_brand")),
      s"""SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS sale_date, p_brand,
                 sum(l_quantity) AS units_sold, $RevSum AS revenue,
                 count(DISTINCT l_orderkey) AS order_count,
                 coalesce($RevSum / nullif(sum(l_quantity), 0.0), 0.0) AS avg_unit_price
          FROM lineitem
          LEFT JOIN orders ON l_orderkey = o_orderkey
          LEFT JOIN part ON l_partkey = p_partkey
          GROUP BY 1, 2 ORDER BY 1, 2"""),

    Query("q_product_sales_summary", Batch, (s, d) =>
      Transforms.productSalesSummary(Tables.lineitem(s, d), Tables.orders(s, d), Tables.part(s, d))
        .orderBy(col("p_partkey")),
      s"""SELECT p_partkey, p_name, sum(l_quantity) AS total_units_sold, $RevSum AS total_revenue,
                 count(DISTINCT l_orderkey) AS order_count, count(DISTINCT o_custkey) AS customer_count,
                 CAST(max(o_orderdate) AS TIMESTAMP) AS last_order_date
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN part ON l_partkey = p_partkey
          WHERE o_orderstatus NOT IN ('F')
          GROUP BY 1, 2 ORDER BY 1"""),

    Query("q_customer_purchase_summary", Batch, (s, d) =>
      Transforms.customerPurchaseSummary(Tables.customer(s, d), Tables.orders(s, d))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey, c_name, count(DISTINCT o_orderkey) AS order_count,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS lifetime_value,
                CAST(min(o_orderdate) AS TIMESTAMP) AS first_order_date,
                CAST(max(o_orderdate) AS TIMESTAMP) AS last_order_date,
                CAST(date_diff('day', CAST(min(o_orderdate) AS DATE), CAST(max(o_orderdate) AS DATE)) AS DOUBLE)
                  / count(DISTINCT o_orderkey) AS avg_days_between_orders
         FROM customer JOIN orders ON c_custkey = o_custkey
         GROUP BY 1, 2 ORDER BY 1"""),

    Query("q_distinct_stats", Batch, (s, d) => Transforms.distinctStats(Tables.lineitem(s, d)),
      """SELECT count(*) AS n_rows, count(DISTINCT l_orderkey) AS n_orders,
                count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_suppliers
         FROM lineitem"""),

    // OLAP extras beyond the reference surface: rollup hierarchies,
    // exact interpolated percentiles, bucketed histograms.
    Query("q_rollup", Batch, (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("gross"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),

    Query("q_percentiles", Batch, (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    Query("q_histogram", Batch, (s, d) =>
      Tables.orders(s, d)
        .groupBy(width_bucket(col("o_totalprice"), lit(0d), lit(700000d), lit(14)).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket")),
      // DuckDB 1.0 has no width_bucket; for in-range values it is
      // floor((v - min) / ((max - min) / n)) + 1 — identical double math.
      // LEAST/GREATEST mirrors width_bucket's clamping (bucket 0 below the
      // range, nBuckets+1 at/above it) so the two sides stay equivalent on
      // ANY data, not just data that happens to fall inside [0, 700000).
      """SELECT CAST(LEAST(GREATEST(floor(o_totalprice / 50000.0) + 1, 0), 15) AS BIGINT) AS bucket,
                count(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // HLL twin of q_distinct_stats — the 100 TB default (no Expand blow-up).
    // Sketch internals are engine-specific, so the query SELF-ASSERTS: it
    // emits |approx−exact|/exact ≤ 10% booleans (measured HLL error on this
    // data ≤ 3.6%; default rsd 5%) — the exact twin here is the
    // VERIFICATION harness, not the operator. Hash-checkable oracle:
    // the same group keys with literal `true`s.
    Query("q_distinct_stats_approx", Batch, (s, d) =>
      Tables.lineitem(s, d)
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("xo"),
          countDistinct(col("l_partkey")).as("xp"),
          countDistinct(col("l_suppkey")).as("xs"),
          approx_count_distinct(col("l_orderkey")).as("ao"),
          approx_count_distinct(col("l_partkey")).as("ap"),
          approx_count_distinct(col("l_suppkey")).as("asu"))
        .select(col("n_rows"),
          (abs(col("ao") - col("xo")) <= col("xo") * 0.1).as("orders_ok"),
          (abs(col("ap") - col("xp")) <= col("xp") * 0.1).as("parts_ok"),
          (abs(col("asu") - col("xs")) <= col("xs") * 0.1).as("suppliers_ok")),
      // Self-asserting sketch queries: the Spark side emits error-bound
      // booleans (approx vs exact computed in-plan), so the oracle is the
      // same group keys with literal trues — any sketch drifting past its
      // bound flips a row to false and fails the hash compare.
      """SELECT count(*) AS n_rows, true AS orders_ok, true AS parts_ok,
                true AS suppliers_ok
         FROM lineitem"""),

    // Sketch twin of q_percentiles: one pass, bounded memory (no per-group
    // sort) — the 100 TB default for quantiles. Self-asserting like
    // q_distinct_stats_approx: emits |approx−exact|/exact ≤ 0.5% per group
    // (measured ≤ 0.02% at accuracy 10000); the exact percentile is the
    // verification twin.
    Query("q_percentiles_approx", Batch, (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("a50"),
          expr("approx_percentile(l_extendedprice, 0.95, 10000)").as("a95"),
          expr("percentile(l_extendedprice, 0.5)").as("e50"),
          expr("percentile(l_extendedprice, 0.95)").as("e95"))
        .select(col("l_returnflag"),
          (abs(col("a50") - col("e50")) <= col("e50") * 0.005).as("p50_ok"),
          (abs(col("a95") - col("e95")) <= col("e95") * 0.005).as("p95_ok"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag, true AS p50_ok, true AS p95_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // Heavy hitters: exact top-k by frequency (count + TakeOrdered — two
    // shuffles of (key, count), never the rows). The sketch alternative
    // (count-min / freqItems) trades exactness for one pass; exact is
    // oracle-checkable, so it carries the contract entry.
    Query("q_heavy_hitters", Batch, (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("l_partkey"))
        .limit(25),
      """SELECT l_partkey, count(*) AS n FROM lineitem
         GROUP BY 1 ORDER BY n DESC, l_partkey LIMIT 25"""),

    // CUBE with grouping_id — all four grouping sets in one Expand pass.
    Query("q_cube", Batch, (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("int").as("gmask"), count(lit(1)).as("n"),
          moneySum(col("l_extendedprice")).as("gross"))
        .orderBy(col("gmask"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus,
                CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gmask, count(*) AS n,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY gmask, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),

    // Pivot (long→wide): one output column per linestatus value. Values are
    // declared explicitly so the plan is a single aggregation (no extra
    // distinct-collect job to discover them — the 100 TB posture).
    Query("q_pivot", Batch, (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(moneySum(col("l_extendedprice")))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag,
                CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
                CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS O
         FROM lineitem GROUP BY 1 ORDER BY 1"""),

    // Unpivot / melt (wide→long) — the inverse reshape, zero shuffles past
    // the source aggregation (Expand on the map side).
    Query("q_unpivot", Batch, (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("gross"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("gross")), "metric", "value")
        .orderBy(col("l_returnflag"), col("metric")),
      """WITH m AS (
           SELECT l_returnflag, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM m
         UNION ALL
         SELECT l_returnflag, 'gross' AS metric, gross AS value FROM m
         ORDER BY l_returnflag, metric"""),

    // Statistical moments + correlation — single pass, partial-merge
    // aggregates (no per-group sort, no second scan).
    Query("q_stats_agg", Batch, (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag, round(avg(l_quantity), 6) AS avg_qty,
                round(stddev_samp(l_quantity), 6) AS sd_qty,
                round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr
         FROM lineitem GROUP BY 1 ORDER BY 1"""),

    // Deterministic hash-style sampling: Knuth multiplicative scramble of
    // the key, mod 97 — reproducible across engines and cluster sizes
    // (unlike TABLESAMPLE, which is partition-dependent). ~1% systematic
    // sample that any two runs agree on row-for-row. The key is first
    // reduced mod 3037000499 (⌊√Long.Max⌋) so key × 2654435761 can never
    // overflow ANSI bigint arithmetic, for ANY key value.
    Query("q_sample_hash", Batch, (s, d) =>
      Tables.lineitem(s, d)
        .filter(PortableHash.mix64(col("l_orderkey")) % 97 === 3)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("gross"))
        .orderBy(col("l_returnflag")),
      s"""SELECT l_returnflag, count(*) AS n,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
         FROM lineitem WHERE (${PortableHash.mix64Sql("l_orderkey")}) % 97 = 3
         GROUP BY 1 ORDER BY 1"""),

    // Window functions (beyond the reference surface, SURVEY §2.5): running
    // revenue per customer with a unique total order inside each partition.
    Query("q_window_running", Batch, (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .filter(col("o_custkey") < 100)
        .select(
          col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"),
          sum(dec2(col("o_totalprice"))).over(w).cast("double").as("running_total"))
        .orderBy(col("o_custkey"), col("rn"))
    },
      """SELECT o_custkey, o_orderkey, CAST(row_number() OVER w AS INT) AS rn,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_total
         FROM orders WHERE o_custkey < 100
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, rn"""),

    // Explicit ROWS frame (trailing-7 moving window) + first_value. The
    // moving sum stays exact DECIMAL — a sliding double sum would be
    // association-order-dependent and break cross-engine equality.
    Query("q_window_frame", Batch, (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-6, Window.currentRow)
      Tables.orders(s, d)
        .filter(col("o_custkey") < 100)
        .select(
          col("o_custkey"), col("o_orderkey"),
          sum(dec2(col("o_totalprice"))).over(w).cast("double").as("sum7"),
          count(lit(1)).over(w).as("cnt7"),
          first(col("o_orderkey")).over(w).as("first_in_frame"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum7,
                count(*) OVER w AS cnt7,
                first_value(o_orderkey) OVER w AS first_in_frame
         FROM orders WHERE o_custkey < 100
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY o_custkey, o_orderkey"""),

    // lag/lead windows: inter-order gap per customer — the feature-
    // engineering shape (one shuffle on the partition key).
    Query("q_lag_lead", Batch, (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .filter(col("o_custkey") < 200)
        .select(
          col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w)).as("days_since_prev"),
          lead(col("o_orderkey"), 1).over(w).as("next_orderkey"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
                CAST(date_diff('day', CAST(lag(o_orderdate) OVER w AS DATE), CAST(o_orderdate AS DATE)) AS INT) AS days_since_prev,
                lead(o_orderkey) OVER w AS next_orderkey
         FROM orders WHERE o_custkey < 200
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey"""),

    // ntile bucketing (global quartiles by account balance), computed by
    // the DISTRIBUTED rank (range-repartition + partition-offset rank +
    // the ntile size formula, Ranking.ntileAssign) — bit-identical to the
    // window function but with no single-task global sort, so the same
    // plan survives a fact-sized input.
    Query("q_ntile", Batch, (s, d) =>
      graft.operators.Ranking.ntileAssign(
          Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal")),
          Nil, Seq(col("c_acctbal"), col("c_custkey")), 4, "quartile")
        .select(col("c_custkey"), col("c_acctbal"), col("quartile").cast("int").as("quartile"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey, c_acctbal,
                CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS INT) AS quartile
         FROM customer ORDER BY c_custkey"""),

    // Relative-rank metrics (no ties possible: the order is total, so
    // percent_rank/cume_dist reduce to closed forms of the row number).
    // Distributed rank instead of a global window — same rows, no
    // single-reducer sort.
    Query("q_percent_rank", Batch, (s, d) =>
      graft.operators.Ranking.rowNumber(
          Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal")),
          Nil, Seq(col("c_acctbal"), col("c_custkey")), "__rn", totalCol = Some("__n"))
        .select(col("c_custkey"), col("c_acctbal"),
          round(when(col("__n") === 1, lit(0.0))
            .otherwise((col("__rn") - 1).cast("double") / (col("__n") - 1).cast("double")), 6).as("pr"),
          round(col("__rn").cast("double") / col("__n").cast("double"), 6).as("cd"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey, c_acctbal,
                round(percent_rank() OVER (ORDER BY c_acctbal, c_custkey), 6) AS pr,
                round(cume_dist() OVER (ORDER BY c_acctbal, c_custkey), 6) AS cd
         FROM customer ORDER BY c_custkey"""),

    // Latest-row-per-key compaction (CDC/upsert-log shape).
    Query("q_latest_per_key", Batch, (s, d) =>
      Dedup.latestByKey(Tables.orders(s, d), Seq("o_custkey"),
        Seq(col("o_orderdate"), col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .orderBy(col("o_custkey")),
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_totalprice
         FROM orders
         QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
         ORDER BY o_custkey"""),

    // Scalar subquery: orders above the global mean. The subquery plans as
    // its own tiny aggregate job whose single row is broadcast into the
    // filter; the mean goes through exact DECIMAL so the threshold is
    // bit-identical across engines.
    Query("q_scalar_subquery", Batch, (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_ssq")
      s.sql(
        """SELECT o_orderkey, o_totalprice FROM orders_ssq
          |WHERE o_totalprice > 2 * (SELECT avg(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders_ssq)
          |ORDER BY o_orderkey""".stripMargin)
    },
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > 2 * (SELECT avg(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders)
         ORDER BY o_orderkey"""),

    // Correlated scalar subquery — Catalyst's RewriteCorrelatedScalarSubquery
    // turns it into an aggregate + left outer join (no per-row re-execution).
    Query("q_correlated_subquery", Batch, (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_csq")
      s.sql(
        """SELECT c_custkey, c_acctbal FROM customer_csq c
          |WHERE c_acctbal > 2 * (SELECT avg(CAST(c2.c_acctbal AS DECIMAL(18,2)))
          |                       FROM customer_csq c2
          |                       WHERE c2.c_nationkey = c.c_nationkey)
          |ORDER BY c_custkey""".stripMargin)
    },
      """SELECT c_custkey, c_acctbal FROM customer c
         WHERE c_acctbal > 2 * (SELECT avg(CAST(c2.c_acctbal AS DECIMAL(18,2)))
                                FROM customer c2
                                WHERE c2.c_nationkey = c.c_nationkey)
         ORDER BY c_custkey"""),

    // WITH RECURSIVE (Spark 4 UnionLoop): month spine from the order-date
    // span, left-joined to monthly order counts — gap-free trends, the
    // classic recursive-CTE use. The recursion bounds are inlined as
    // LITERALS (derived once via the cached orderSpan scalar aggregate):
    // a scalar subquery in the step condition would re-scan orders on
    // EVERY loop iteration (~80 scans — measured 8.7 s at sf0.1, the exact
    // iterated-rescan trap a recursive plan must avoid at scale). The
    // DuckDB oracle keeps the subquery form — same data, same spine.
    Query("q_recursive_cte", Batch, (s, d) => {
      val (mn, mx) = orderSpan(s, d)
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        s"""WITH RECURSIVE months(m) AS (
           |  SELECT date_trunc('month', TIMESTAMP '$mn 00:00:00') AS m
           |  UNION ALL
           |  SELECT m + INTERVAL '1' MONTH FROM months
           |  WHERE m < date_trunc('month', TIMESTAMP '$mx 00:00:00')
           |)
           |SELECT m AS month_start,
           |       CAST(count(o_orderkey) AS BIGINT) AS n_orders
           |FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
           |GROUP BY m ORDER BY m""".stripMargin)
    },
      RecursiveMonthsSql),

    // Spark 4.1 approx_top_k (frequent-items sketch): estimated top-10
    // terms self-asserted against the exact counts — count-exactness and
    // tie-safe top-k validity (every returned item's exact count reaches
    // the exact 10th-largest).
    Query("q_approx_topk", Batch, (s, d) => {
      val tok = Tables.documents(s, d).select(explode(tokens(col("text"))).as("term"))
      val exact = tok.groupBy(col("term")).agg(count(lit(1)).as("exact_n"))
      val est = tok.agg(expr("approx_top_k(term, 10)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("term"), col("e.count").as("est_n"))
      val kth = exact.orderBy(col("exact_n").desc, col("term")).limit(10)
        .agg(min(col("exact_n")).as("kth_n"))
      est.join(exact, "term")
        .crossJoin(broadcast(kth))
        .agg(
          count(lit(1)).as("k"),
          expr("bool_and(est_n = exact_n)").as("all_counts_exact"),
          expr("bool_and(exact_n >= kth_n)").as("is_valid_topk"))
    },
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
         SELECT CAST(10 AS BIGINT) AS k, true AS all_counts_exact, true AS is_valid_topk FROM tok LIMIT 1"""),

    // Table-version reconciliation: classify every PK across two versions
    // of orders (base vs a derived "next" snapshot with deterministic
    // drops / urgent-price bumps / re-keyed adds) via ONE full-outer join —
    // the dataset-release diff report. Exact decimal delta sums.
    Query("q_table_diff", Batch, (s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val src = Tables.orders(s, d)
      val kept = src
        .filter(pmod(PortableHash.mix64(col("o_orderkey")), lit(PortableHash.P)) % 97 =!= 3)
        .select(col("o_orderkey"),
          when(col("o_orderpriority") === "1-URGENT",
            (dec2(col("o_totalprice")) * dec2(lit(1.1))).cast("double"))
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("o_orderstatus"))
      val added = src
        .filter(pmod(PortableHash.mix64(col("o_orderkey")), lit(PortableHash.P)) % 101 === 5)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_totalprice"), col("o_orderstatus"))
      val next = kept.unionByName(added)
      base.as("a").join(next.as("b"), Seq("o_orderkey"), "full_outer")
        .select(
          when(col("a.o_totalprice").isNull, "added")
            .when(col("b.o_totalprice").isNull, "removed")
            .when(col("a.o_totalprice") =!= col("b.o_totalprice")
              || col("a.o_orderstatus") =!= col("b.o_orderstatus"), "changed")
            .otherwise("unchanged").as("change"),
          // DECIMAL(18,3): bumped prices carry 3 exact decimals, and a
          // 3-dp value round-trips double→decimal identically in both
          // engines (no midpoint ambiguity, unlike re-rounding to 2 dp)
          coalesce(col("b.o_totalprice").cast("decimal(18,3)"),
            lit(0.0).cast("decimal(18,3)")).as("__new"),
          coalesce(col("a.o_totalprice").cast("decimal(18,3)"),
            lit(0.0).cast("decimal(18,3)")).as("__old"))
        .groupBy(col("change"))
        .agg(count(lit(1)).as("n"),
          sum(col("__new") - col("__old")).cast("double").as("delta_sum"))
        .orderBy(col("change"))
    },
      s"""WITH base AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
              kept AS (SELECT o_orderkey,
                              CASE WHEN o_orderpriority = '1-URGENT'
                                   THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(18,2)) AS DOUBLE)
                                   ELSE o_totalprice END AS o_totalprice,
                              o_orderstatus
                       FROM orders
                       WHERE (${PortableHash.mix64Sql("o_orderkey")}) % ${PortableHash.P} % 97 <> 3),
              added AS (SELECT o_orderkey + 10000000 AS o_orderkey, o_totalprice, o_orderstatus
                        FROM orders
                        WHERE (${PortableHash.mix64Sql("o_orderkey")}) % ${PortableHash.P} % 101 = 5),
              nxt AS (SELECT * FROM kept UNION ALL SELECT * FROM added)
         SELECT CASE WHEN a.o_totalprice IS NULL THEN 'added'
                     WHEN b.o_totalprice IS NULL THEN 'removed'
                     WHEN a.o_totalprice <> b.o_totalprice OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
                     ELSE 'unchanged' END AS change,
                count(*) AS n,
                CAST(sum(coalesce(CAST(b.o_totalprice AS DECIMAL(18,3)), 0)
                         - coalesce(CAST(a.o_totalprice AS DECIMAL(18,3)), 0)) AS DOUBLE) AS delta_sum
         FROM base a FULL JOIN nxt b USING (o_orderkey)
         GROUP BY 1 ORDER BY 1"""),

    // Moving (trailing-5-row) DISCRETE median per customer — windowed
    // quantiles via sorted collect over a row frame; the lower-median
    // convention matches DuckDB's quantile_disc exactly.
    Query("q_window_median", Batch, (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey")).rowsBetween(-4, 0)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          array_sort(collect_list(col("o_totalprice")).over(w)).as("__arr"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          expr("element_at(__arr, CAST((size(__arr) + 1) div 2 AS INT))").as("moving_median"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
                quantile_disc(o_totalprice, 0.5) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS moving_median
         FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey"""),

    // Spark 4 VARIANT: parse once into the binary semi-structured type,
    // then typed paths extract WITHOUT re-parsing the JSON text per field —
    // the 100 TB answer to schema-on-read (parse cost paid once, pushdown-
    // friendly shredding). Oracle replays with plain JSON extraction.
    Query("q_variant", Batch, (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"),
          max(col("k")).as("k_max"))
        .orderBy(col("event_type")),
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
                CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS k_min,
                CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS k_max
         FROM events GROUP BY 1 ORDER BY 1"""),

    // LATERAL correlated subquery (per-customer top-2 orders by price):
    // exercises the LateralJoin plan; same SQL shape runs in DuckDB.
    Query("q_lateral", Batch, (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        """SELECT c.o_custkey, t.o_orderkey, t.o_totalprice
          |FROM (SELECT DISTINCT o_custkey FROM orders) c,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
          |         WHERE o.o_custkey = c.o_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |ORDER BY c.o_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
    },
      """SELECT c.o_custkey, t.o_orderkey, t.o_totalprice
         FROM (SELECT DISTINCT o_custkey FROM orders) c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                  WHERE o.o_custkey = c.o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
         ORDER BY c.o_custkey, t.o_totalprice DESC, t.o_orderkey"""),

    // F14 — API-layer ISO-8601 serialization, kept in the engine as a
    // formatting expression (reference `app.py:68,105`).
    Query("q_iso_format", Batch, (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").as("iso"))
        .orderBy(col("o_orderkey")),
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso
         FROM orders ORDER BY o_orderkey"""),

    // `date` surfaced as midnight timestamp: parquet DATE and DuckDB DATE
    // deserialize to different host types and defeat value-hash comparison.
    Query("q_dim_time", Batch, (s, _) =>
      DimTime(s, "2021-01-01", "2025-12-31")
        .withColumn("date", col("date").cast("timestamp"))
        .orderBy(col("date")),
      """SELECT CAST(d AS TIMESTAMP) AS date, CAST(isodow(d) AS INT) AS day_of_week,
                CAST(dayofmonth(d) AS INT) AS day_of_month, CAST(dayofyear(d) AS INT) AS day_of_year,
                CAST(weekofyear(d) AS INT) AS week_of_year, CAST(month(d) AS INT) AS month,
                monthname(d) AS month_name, CAST(quarter(d) AS INT) AS quarter,
                CAST(year(d) AS INT) AS year, isodow(d) >= 6 AS is_weekend, false AS is_holiday
         FROM (SELECT unnest(generate_series(DATE '2021-01-01', DATE '2025-12-31', INTERVAL 1 DAY)) AS d)
         ORDER BY 1"""),

    // SCD Type 2: order-status snapshots per customer → versioned validity
    // intervals. Same-day conflicts collapse to max_by(status, orderkey)
    // via a lead() window over the SAME (custkey) partitioning the
    // versioning passes use — the whole query runs on ONE exchange (the
    // (date, orderkey) sort satisfies every later (date)-ordered window).
    Query("q_scd2", Batch, (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val snap = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          col("o_orderstatus").as("status"))
        .withColumn("__nd", lead(col("o_orderdate"), 1).over(w))
        .filter(col("__nd").isNull || col("__nd") =!= col("o_orderdate"))
        .drop("__nd", "o_orderkey")
      Transforms.scdType2(snap, "o_custkey", "o_orderdate", "status")
        .select(col("o_custkey"), col("status"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy(col("o_custkey"), col("valid_from"))
    },
      """WITH snap AS (SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP) AS ts,
                              arg_max(o_orderstatus, o_orderkey) AS status
                       FROM orders GROUP BY 1, 2),
              chg AS (SELECT o_custkey, ts, status,
                             lag(status) OVER (PARTITION BY o_custkey ORDER BY ts) AS prev
                      FROM snap),
              v AS (SELECT o_custkey, status, ts AS valid_from FROM chg
                    WHERE prev IS NULL OR prev <> status)
         SELECT o_custkey, status, valid_from,
                lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from) AS valid_to,
                lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from) IS NULL AS is_current
         FROM v ORDER BY o_custkey, valid_from"""),

    // CDC change-log replay with DELETE tombstones onto the customer
    // snapshot: log = orders as balance updates (every 10th order key a
    // tombstone), plus a shifted-key slice exercising the insert path;
    // winner per key by (o_orderdate, o_orderkey) — an LSN-style total
    // order.
    Query("q_cdc_apply", Batch, (s, d) => {
      val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal"))
      val o = Tables.orders(s, d)
      val ch = o.select(
        col("o_custkey").as("c_custkey"),
        when(col("o_orderkey") % 10 === 0, "D").otherwise("U").as("op"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderdate").as("ts"), col("o_orderkey").as("seq"))
      val chIns = o.filter(col("o_custkey") < 5)
        .select((col("o_custkey") + 10000).as("c_custkey"), lit("U").as("op"),
          col("o_totalprice").as("c_acctbal"),
          col("o_orderdate").as("ts"), col("o_orderkey").as("seq"))
      graft.transform.Transforms
        .applyChangeLog(cust, ch.unionByName(chIns),
          "c_custkey", "ts", "seq", "op", Seq("c_acctbal"))
        .orderBy(col("c_custkey"))
    },
      // CDC replay: same latest-winner window, same tombstone filter.
      """WITH ch AS (SELECT o_custkey AS k,
                            CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
                            o_totalprice AS bal, o_orderdate AS ts, o_orderkey AS seq
                     FROM orders
                     UNION ALL
                     SELECT o_custkey + 10000, 'U', o_totalprice, o_orderdate, o_orderkey
                     FROM orders WHERE o_custkey < 5),
              latest AS (SELECT k, op, bal FROM (
                           SELECT *, row_number() OVER (PARTITION BY k ORDER BY ts DESC, seq DESC) AS rn
                           FROM ch)
                         WHERE rn = 1),
              s AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer),
              j AS (SELECT coalesce(s.k, l.k) AS c_custkey,
                           coalesce(l.bal, s.bal) AS c_acctbal,
                           CASE WHEN l.op IS NULL THEN 'unchanged'
                                WHEN s.k IS NOT NULL THEN 'updated'
                                ELSE 'inserted' END AS cdc_action,
                           l.op AS op
                    FROM s FULL OUTER JOIN latest l ON s.k = l.k)
         SELECT c_custkey, c_acctbal, cdc_action
         FROM j WHERE op IS NULL OR op <> 'D' ORDER BY c_custkey"""),
  )
}
