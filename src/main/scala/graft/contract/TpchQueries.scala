package graft
package contract

import org.apache.spark.sql.functions._

import graft.sources.Tables
import Query.Batch

/** TPC-H query shapes, run as Spark SQL over the house tables. */
private[contract] object TpchQueries {

  val all: Seq[Query] = Seq(
    // The SQL entry point (same engine, `spark.sql`): TPC-H Q1 shape.
    Query("q_sql_tpch_q1", Batch, (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
          |       count(*) AS count_order
          |FROM lineitem
          |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    },
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),

    // TPC-H Q3 shape (shipping priority): segment filter on the broadcast
    // customer dim, date-window filters pushed to both fact scans, top-10
    // by exact-decimal revenue via TakeOrderedAndProject.
    Query("q_sql_tpch_q3", Batch, (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_orderkey,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          |       o_orderdate
          |FROM customer JOIN orders ON c_custkey = o_custkey
          |              JOIN lineitem ON l_orderkey = o_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
          |GROUP BY l_orderkey, o_orderdate
          |ORDER BY revenue DESC, l_orderkey
          |LIMIT 10""".stripMargin)
    },
      """SELECT l_orderkey,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                o_orderdate
         FROM customer JOIN orders ON c_custkey = o_custkey
                       JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
           AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey
         LIMIT 10"""),

    // TPC-H Q5 shape (local-supplier volume): 6-table star join — two
    // fact⋈fact shuffles, every dim broadcast, c_nationkey = s_nationkey
    // closing the cycle; exact-decimal revenue per nation.
    Query("q_sql_tpch_q5", Batch, (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.supplier(s, d).createOrReplaceTempView("supplier")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      Tables.region(s, d).createOrReplaceTempView("region")
      s.sql(
        """SELECT n_name,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM customer JOIN orders ON c_custkey = o_custkey
          |              JOIN lineitem ON l_orderkey = o_orderkey
          |              JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          |              JOIN nation ON s_nationkey = n_nationkey
          |              JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          |GROUP BY n_name
          |ORDER BY revenue DESC, n_name""".stripMargin)
    },
      """SELECT n_name,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM customer JOIN orders ON c_custkey = o_custkey
                       JOIN lineitem ON l_orderkey = o_orderkey
                       JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                       JOIN nation ON s_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name"""),

    // TPC-H Q10 (returned-item revenue top-20, adapted to the testdata's
    // columns): the classic 3-fact-dim join + group + top-k report shape —
    // dims broadcast, one keyed agg, TakeOrdered for the limit.
    Query("q_sql_tpch_q10", Batch, (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      s.sql(
        """SELECT c_custkey, c_name,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          |       n_name
          |FROM customer JOIN orders ON c_custkey = o_custkey
          |              JOIN lineitem ON l_orderkey = o_orderkey
          |              JOIN nation ON c_nationkey = n_nationkey
          |WHERE l_returnflag = 'R'
          |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
          |GROUP BY c_custkey, c_name, n_name
          |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)
    },
      """SELECT c_custkey, c_name,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                n_name
         FROM customer JOIN orders ON c_custkey = o_custkey
                       JOIN lineitem ON l_orderkey = o_orderkey
                       JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
         GROUP BY c_custkey, c_name, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20"""),

    // TPC-H Q4 (order-priority checking, adapted): correlated EXISTS plans
    // as a LEFT SEMI join on the order key — no lineitem row ever
    // duplicates an order, no distinct needed.
    Query("q_sql_tpch_q4", Batch, (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT o_orderpriority, count(*) AS order_count
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          |  AND EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    },
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority"""),

    // TPC-H Q7 (volume shipping between two nations, adapted): the
    // self-joined nation dim appears TWICE (supplier side and customer
    // side) — both broadcast — with the bidirectional pair filter pushed
    // below the aggregation; per-(direction, ship-year) exact-decimal
    // revenue.
    Query("q_sql_tpch_q7", Batch, (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.supplier(s, d).createOrReplaceTempView("supplier")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      s.sql(
        """SELECT supp_nation, cust_nation, l_year,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |             CAST(year(l_shipdate) AS BIGINT) AS l_year,
          |             l_extendedprice, l_discount
          |      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
          |                    JOIN orders ON o_orderkey = l_orderkey
          |                    JOIN customer ON c_custkey = o_custkey
          |                    JOIN nation n1 ON s_nationkey = n1.n_nationkey
          |                    JOIN nation n2 ON c_nationkey = n2.n_nationkey
          |      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          |          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          |        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') shipping
          |GROUP BY supp_nation, cust_nation, l_year
          |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)
    },
      """SELECT supp_nation, cust_nation, l_year,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                      CAST(year(l_shipdate) AS BIGINT) AS l_year,
                      l_extendedprice, l_discount
               FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                             JOIN orders ON o_orderkey = l_orderkey
                             JOIN customer ON c_custkey = o_custkey
                             JOIN nation n1 ON s_nationkey = n1.n_nationkey
                             JOIN nation n2 ON c_nationkey = n2.n_nationkey
               WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
                 AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                 AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') shipping
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year"""),

    // TPC-H Q8 (national market share, adapted): the deepest join tree in
    // the suite — 8 relations, nation twice — planned as one lineitem
    // scan with every dim broadcast; the share is conditional-sum /
    // total-sum, both exact decimal, divided once in double.
    Query("q_sql_tpch_q8", Batch, (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.supplier(s, d).createOrReplaceTempView("supplier")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      Tables.region(s, d).createOrReplaceTempView("region")
      Tables.part(s, d).createOrReplaceTempView("part")
      s.sql(
        """SELECT o_year,
          |       CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
          |         / CAST(sum(volume) AS DOUBLE) AS mkt_share
          |FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
          |             CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2)) AS volume,
          |             n2.n_name AS nation
          |      FROM part JOIN lineitem ON p_partkey = l_partkey
          |                JOIN supplier ON s_suppkey = l_suppkey
          |                JOIN orders ON l_orderkey = o_orderkey
          |                JOIN customer ON o_custkey = c_custkey
          |                JOIN nation n1 ON c_nationkey = n1.n_nationkey
          |                JOIN region ON n1.n_regionkey = r_regionkey
          |                JOIN nation n2 ON s_nationkey = n2.n_nationkey
          |      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
          |        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') all_nations
          |GROUP BY o_year ORDER BY o_year""".stripMargin)
    },
      """SELECT o_year,
                CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                  / CAST(sum(volume) AS DOUBLE) AS mkt_share
         FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                      CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2)) AS volume,
                      n2.n_name AS nation
               FROM part JOIN lineitem ON p_partkey = l_partkey
                         JOIN supplier ON s_suppkey = l_suppkey
                         JOIN orders ON l_orderkey = o_orderkey
                         JOIN customer ON o_custkey = c_custkey
                         JOIN nation n1 ON c_nationkey = n1.n_nationkey
                         JOIN region ON n1.n_regionkey = r_regionkey
                         JOIN nation n2 ON s_nationkey = n2.n_nationkey
               WHERE r_name = 'ASIA' AND p_type = 'PROMO'
                 AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                 AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') all_nations
         GROUP BY o_year ORDER BY o_year"""),

    // TPC-H Q13 (customer order-count distribution, adapted: the comment
    // LIKE filter becomes a priority exclusion): LEFT OUTER with the
    // filter INSIDE the join condition — unmatched customers keep
    // c_count = 0 — then a second aggregation over the first's output.
    Query("q_sql_tpch_q13", Batch, (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        """SELECT c_count, count(*) AS custdist
          |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          |      FROM customer LEFT OUTER JOIN orders
          |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          |      GROUP BY c_custkey) c_orders
          |GROUP BY c_count
          |ORDER BY custdist DESC, c_count DESC""".stripMargin)
    },
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT OUTER JOIN orders
                 ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
               GROUP BY c_custkey) c_orders
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC"""),

    // TPC-H Q14 (promotion effect): conditional aggregation over the
    // lineitem ⋈ part (broadcast) join — both sums exact decimal, the
    // percentage computed once in double so DuckDB replays it bit-exactly.
    Query("q_sql_tpch_q14", Batch, (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.part(s, d).createOrReplaceTempView("part")
      s.sql(
        """SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
          |                THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))
          |                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
          |         / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS promo_revenue
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin)
    },
      """SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                         THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                  / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS promo_revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'"""),

    // TPC-H Q15 (top supplier): the revenue CTE is computed once and the
    // max-revenue scalar subquery reuses it (ReuseExchange / subquery
    // broadcast); equality on the exact-decimal-then-double revenue is
    // bit-portable.
    Query("q_sql_tpch_q15", Batch, (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.supplier(s, d).createOrReplaceTempView("supplier")
      s.sql(
        """WITH revenue AS (
          |  SELECT l_suppkey AS supplier_no,
          |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
          |  GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name, total_revenue
          |FROM supplier JOIN revenue ON s_suppkey = supplier_no
          |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
          |ORDER BY s_suppkey""".stripMargin)
    },
      """WITH revenue AS (
           SELECT l_suppkey AS supplier_no,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_revenue
         FROM supplier JOIN revenue ON s_suppkey = supplier_no
         WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
         ORDER BY s_suppkey"""),

    // TPC-H Q17 (small-quantity-order revenue, container filter adapted
    // to p_size): the correlated scalar average decorrelates into a
    // per-partkey aggregate joined back to the filtered fact — l_quantity
    // is integral-valued so the per-part average is exact in double and
    // the 0.2× threshold compare is bit-portable.
    Query("q_sql_tpch_q17", Batch, (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.part(s, d).createOrReplaceTempView("part")
      s.sql(
        """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE p_brand = 'Brand#23' AND p_size < 15
          |  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
          |                    WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin)
    },
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand = 'Brand#23' AND p_size < 15
           AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                             WHERE l2.l_partkey = lineitem.l_partkey)"""),

    // TPC-H Q18 (large-volume orders): the HAVING subquery plans as an
    // aggregate + LEFT SEMI join on the order key before the 3-way join
    // re-derives per-order quantity for the report; top-20 via
    // TakeOrderedAndProject.
    Query("q_sql_tpch_q18", Batch, (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
          |       sum(l_quantity) AS total_qty
          |FROM customer JOIN orders ON c_custkey = o_custkey
          |              JOIN lineitem ON o_orderkey = l_orderkey
          |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
          |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
          |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin)
    },
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                sum(l_quantity) AS total_qty
         FROM customer JOIN orders ON c_custkey = o_custkey
                       JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
         GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"""),

    // TPC-H Q19 (discounted revenue, container terms adapted to p_size):
    // three disjunctive brand×size×quantity envelopes — the OR of
    // conjunctions survives as ONE join filter (no union rewrite), with
    // the common p_partkey = l_partkey equi-key still hash-joinable.
    Query("q_sql_tpch_q19", Batch, (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.part(s, d).createOrReplaceTempView("part")
      s.sql(
        """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          |       count(*) AS n_lines
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
          |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
          |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)
    },
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                count(*) AS n_lines
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)"""),

    // TPC-H Q22 (global sales opportunity, adapted: phone country code →
    // nationkey mod 5; "never ordered" → no orders since 2000 because
    // every synthetic customer has SOME order): anti join against the
    // date-pruned orders scan + a non-correlated scalar threshold. The
    // positive-balance average is computed over exact integer CENTS
    // (round → bigint sum → one double division) so the threshold — and
    // therefore the marginal-customer cut — is bit-identical in DuckDB;
    // a raw avg(double) would be summation-order-dependent at the ulp.
    Query("q_sql_tpch_q22", Batch, (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        """SELECT cntrycode, count(*) AS numcust,
          |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
          |FROM (SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode, c_acctbal, c_custkey
          |      FROM customer
          |      WHERE c_acctbal > (SELECT sum(CAST(round(c_acctbal*100) AS BIGINT))*1.0/(100*count(*))
          |                         FROM customer WHERE c_acctbal > 0.00)) c
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
          |                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
          |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin)
    },
      """SELECT cntrycode, count(*) AS numcust,
                CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
         FROM (SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode, c_acctbal, c_custkey
               FROM customer
               WHERE c_acctbal > (SELECT sum(CAST(round(c_acctbal*100) AS BIGINT))*1.0/(100*count(*))
                                  FROM customer WHERE c_acctbal > 0.00)) c
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
         GROUP BY cntrycode ORDER BY cntrycode"""),

    // TPC-H Q2 (best supplier per part, adapted: min ps_supplycost →
    // max s_acctbal over the lineitem supplier facts): the correlated
    // scalar ranges over a MULTI-TABLE join subquery — Catalyst
    // decorrelates it to a per-part aggregate over the same
    // supplier⋈lineitem⋈nation⋈region tree joined back on p_partkey;
    // DISTINCT collapses the per-lineitem duplication.
    Query("q_sql_tpch_q2", Batch, (s, d) => {
      Tables.part(s, d).createOrReplaceTempView("part")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.supplier(s, d).createOrReplaceTempView("supplier")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      Tables.region(s, d).createOrReplaceTempView("region")
      s.sql(
        """SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_type
          |FROM part JOIN lineitem ON p_partkey = l_partkey
          |          JOIN supplier ON s_suppkey = l_suppkey
          |          JOIN nation ON s_nationkey = n_nationkey
          |          JOIN region ON n_regionkey = r_regionkey
          |WHERE p_size < 10 AND p_type = 'LARGE' AND r_name = 'EUROPE'
          |  AND s_acctbal = (SELECT max(s2.s_acctbal)
          |                   FROM supplier s2 JOIN lineitem l2 ON s2.s_suppkey = l2.l_suppkey
          |                        JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
          |                        JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
          |                   WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
          |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 20""".stripMargin)
    },
      """SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_type
         FROM part JOIN lineitem ON p_partkey = l_partkey
                   JOIN supplier ON s_suppkey = l_suppkey
                   JOIN nation ON s_nationkey = n_nationkey
                   JOIN region ON n_regionkey = r_regionkey
         WHERE p_size < 10 AND p_type = 'LARGE' AND r_name = 'EUROPE'
           AND s_acctbal = (SELECT max(s2.s_acctbal)
                            FROM supplier s2 JOIN lineitem l2 ON s2.s_suppkey = l2.l_suppkey
                                 JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
                                 JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
                            WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 20"""),

    // TPC-H Q12 (shipping modes and priority, adapted: mode → linestatus,
    // commit/receipt lag → shipped-after-order): fact ⋈ fact with the date
    // window pushed to the lineitem scan and both priority classes counted
    // in ONE conditional aggregation pass.
    Query("q_sql_tpch_q12", Batch, (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_linestatus,
          |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |WHERE l_shipdate >= o_orderdate
          |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)
    },
      """SELECT l_linestatus,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE l_shipdate >= o_orderdate
           AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY l_linestatus ORDER BY l_linestatus"""),

    // TPC-H Q16 (supplier relationship count, partsupp adapted to the
    // lineitem supplier facts): distinct-count aggregation under negated
    // and IN-list part filters, reported top-down.
    Query("q_sql_tpch_q16", Batch, (s, d) => {
      Tables.part(s, d).createOrReplaceTempView("part")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
          |FROM part JOIN lineitem ON p_partkey = l_partkey
          |WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
          |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
          |GROUP BY p_brand, p_type, p_size
          |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 20""".stripMargin)
    },
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
         FROM part JOIN lineitem ON p_partkey = l_partkey
         WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
           AND p_size IN (1, 4, 9, 16, 25, 36, 49)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 20"""),

    // TPC-H Q21 (suppliers who kept orders waiting, adapted: receipt-vs-
    // commit lateness → shipped after the order date): the DOUBLE
    // correlation — EXISTS (another supplier in the order) plans as a
    // left-semi join and NOT EXISTS (another LATE supplier, correlating on
    // both the order key and the outer o_orderdate) as a left-anti join —
    // the only query in the suite carrying both in one tree.
    Query("q_sql_tpch_q21", Batch, (s, d) => {
      Tables.supplier(s, d).createOrReplaceTempView("supplier")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT s_name, count(*) AS numwait
          |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
          |              JOIN orders ON o_orderkey = l1.l_orderkey
          |WHERE o_orderstatus = 'F' AND l1.l_shipdate > o_orderdate
          |  AND EXISTS (SELECT 1 FROM lineitem l2
          |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
          |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          |                    AND l3.l_shipdate > o_orderdate)
          |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin)
    },
      """SELECT s_name, count(*) AS numwait
         FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
                       JOIN orders ON o_orderkey = l1.l_orderkey
         WHERE o_orderstatus = 'F' AND l1.l_shipdate > o_orderdate
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o_orderdate)
         GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10"""),

    // TPC-H Q9 (product-type profit, adapted: ps_supplycost →
    // 0.6·p_retailprice as the unit-cost proxy, since the testdata has no
    // partsupp): 5-way star join with the two dims broadcast, profit
    // grouped by supplier nation × order year. Numeric discipline: both
    // profit terms are two-factor DECIMAL(18,2) products (the q14 shape) —
    // the 0.6·l_quantity factor is computed in double FIRST and cast once
    // (0.6·int has one mathematical decimal digit, so the 2-digit rounding
    // never sits on a half-ulp boundary) — sum exact, one double cast.
    Query("q_sql_tpch_q9", Batch, (s, d) => {
      Tables.part(s, d).createOrReplaceTempView("part")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.supplier(s, d).createOrReplaceTempView("supplier")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      s.sql(
        """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))
          |              - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(0.6 * l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |     JOIN supplier ON s_suppkey = l_suppkey
          |     JOIN orders ON o_orderkey = l_orderkey
          |     JOIN nation ON s_nationkey = n_nationkey
          |WHERE p_name LIKE '%red%'
          |GROUP BY n_name, year(o_orderdate)
          |ORDER BY nation, o_year DESC""".stripMargin)
    },
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))
                       - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(0.6 * l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
         FROM lineitem JOIN part ON p_partkey = l_partkey
              JOIN supplier ON s_suppkey = l_suppkey
              JOIN orders ON o_orderkey = l_orderkey
              JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%red%'
         GROUP BY n_name, year(o_orderdate)
         ORDER BY nation, o_year DESC"""),

    // TPC-H Q11 (important stock, adapted: ps_supplycost·ps_availqty →
    // shipped value l_extendedprice·l_quantity from one nation's
    // suppliers): group-agg with a non-correlated scalar threshold — the
    // inner total reuses the same filtered join subtree, and Catalyst
    // plans the scalar as a one-row broadcast into the HAVING filter.
    // Both compare sides are single double casts of exact decimal sums.
    Query("q_sql_tpch_q11", Batch, (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.supplier(s, d).createOrReplaceTempView("supplier")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      s.sql(
        """SELECT l_partkey AS ps_partkey,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS value
          |FROM lineitem JOIN supplier ON s_suppkey = l_suppkey JOIN nation ON s_nationkey = n_nationkey
          |WHERE n_name = 'NATION_7'
          |GROUP BY l_partkey
          |HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |     > (SELECT 0.002 * CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |        FROM lineitem JOIN supplier ON s_suppkey = l_suppkey JOIN nation ON s_nationkey = n_nationkey
          |        WHERE n_name = 'NATION_7')
          |ORDER BY value DESC, ps_partkey""".stripMargin)
    },
      """SELECT l_partkey AS ps_partkey,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS value
         FROM lineitem JOIN supplier ON s_suppkey = l_suppkey JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_7'
         GROUP BY l_partkey
         HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              > (SELECT 0.002 * CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 FROM lineitem JOIN supplier ON s_suppkey = l_suppkey JOIN nation ON s_nationkey = n_nationkey
                 WHERE n_name = 'NATION_7')
         ORDER BY value DESC, ps_partkey"""),

    // TPC-H Q20 (potential part promotion, adapted: ps_availqty → the
    // supplier's own shipped quantity, "more than half the part's 1996
    // supply" → dominant-supplier cut at 25%): two stacked aggregations
    // over ONE shipped CTE (per supplier×part, then per part) joined on
    // the part key, feeding a left-semi IN into the region-filtered
    // supplier dim. Quantity sums are integral-valued doubles — exact
    // below 2^53, so the 0.25× threshold is bit-portable with no decimal
    // staging.
    Query("q_sql_tpch_q20", Batch, (s, d) => {
      Tables.part(s, d).createOrReplaceTempView("part")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.supplier(s, d).createOrReplaceTempView("supplier")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      Tables.region(s, d).createOrReplaceTempView("region")
      s.sql(
        """WITH shipped AS (
          |  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
          |  FROM lineitem JOIN part ON p_partkey = l_partkey
          |  WHERE p_name LIKE 'red%'
          |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          |  GROUP BY l_suppkey, l_partkey),
          |tot AS (SELECT l_partkey, sum(qty) AS total_qty FROM shipped GROUP BY l_partkey)
          |SELECT s_suppkey, s_name
          |FROM supplier JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'EUROPE' AND s_suppkey IN (
          |  SELECT shipped.l_suppkey FROM shipped JOIN tot ON shipped.l_partkey = tot.l_partkey
          |  WHERE shipped.qty > 0.25 * tot.total_qty)
          |ORDER BY s_suppkey""".stripMargin)
    },
      """WITH shipped AS (
           SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
           FROM lineitem JOIN part ON p_partkey = l_partkey
           WHERE p_name LIKE 'red%'
             AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           GROUP BY l_suppkey, l_partkey),
         tot AS (SELECT l_partkey, sum(qty) AS total_qty FROM shipped GROUP BY l_partkey)
         SELECT s_suppkey, s_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'EUROPE' AND s_suppkey IN (
           SELECT shipped.l_suppkey FROM shipped JOIN tot ON shipped.l_partkey = tot.l_partkey
           WHERE shipped.qty > 0.25 * tot.total_qty)
         ORDER BY s_suppkey"""),

    // TPC-H Q6 shape (forecast revenue change): single-scan aggregate with
    // every predicate in PushedFilters — the pure pushdown benchmark.
    Query("q_sql_tpch_q6", Batch, (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          |       count(*) AS n_lines
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          |  AND l_discount BETWEEN 0.05 AND 0.07
          |  AND l_quantity < 24""".stripMargin)
    },
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                count(*) AS n_lines
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24"""),
  )
}
