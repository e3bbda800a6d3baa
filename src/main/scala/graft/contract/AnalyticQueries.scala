package graft
package contract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.query.Analytics
import graft.query.Analytics.Page
import graft.sources.Tables
import Query.Batch
import Common._

/** The reference platform's parameterized analytic API (`app.py`). */
private[contract] object AnalyticQueries {

  private def trends(s: SparkSession, d: String, unit: String): DataFrame = {
    // Derive the dim_time span from the orders themselves — a hardcoded
    // range would silently drop orders outside it, diverging from the
    // unconditioned oracle on any data with a different date span.
    val (mn, mx) = orderSpan(s, d)
    Analytics.salesTrends(
      Tables.orders(s, d), Tables.lineitem(s, d), unit, dimStart = mn, dimEnd = mx)
  }

  private def trendsSql(unit: String): String =
    s"""SELECT CAST(date_trunc('$unit', CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS bucket,
               $RevSum AS revenue, count(DISTINCT o_orderkey) AS order_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1 ORDER BY 1"""

  val all: Seq[Query] = Seq(
    Query("q_product_sales", Batch, (s, d) =>
      Analytics.productSales(
        Tables.orders(s, d), Tables.lineitem(s, d), Tables.part(s, d),
        start = "1996-01-01 00:00:00", end = "1997-12-31 23:59:59",
        brand = Some("Brand#2"),
        page = Page("o_totalprice", ascending = false, limit = 50, offset = 0)),
      """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
                o_totalprice, l_linenumber, p_partkey
         FROM orders
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN part ON l_partkey = p_partkey
         WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 23:59:59'
           AND o_orderstatus NOT IN ('F') AND p_brand = 'Brand#2'
         ORDER BY o_totalprice DESC, o_orderkey, l_linenumber, p_partkey
         LIMIT 50"""),

    Query("q_customer_history", Batch, (s, d) =>
      Analytics.customerPurchaseHistory(
        Tables.orders(s, d), custKey = 42L, start = Some("1995-01-01 00:00:00"),
        page = Page("o_orderdate", ascending = true, limit = 100, offset = 0)),
      """SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderstatus, o_totalprice
         FROM orders
         WHERE o_custkey = 42 AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
         ORDER BY o_orderdate ASC, o_orderkey LIMIT 100"""),

    Query("q_top_sellers", Batch, (s, d) =>
      Analytics.topSellers(
        Tables.lineitem(s, d), Tables.supplier(s, d), Tables.nation(s, d), Tables.region(s, d),
        k = 25),
      s"""SELECT r_name, s_suppkey, s_name, sum(l_quantity) AS units_sold, $RevSum AS revenue,
                 count(DISTINCT l_orderkey) AS order_count
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY 1, 2, 3 ORDER BY revenue DESC, s_suppkey LIMIT 25"""),

    Query("q_trends_day", Batch, (s, d) => trends(s, d, "day"),
      trendsSql("day")),

    Query("q_trends_week", Batch, (s, d) => trends(s, d, "week"),
      trendsSql("week")),

    Query("q_trends_month", Batch, (s, d) => trends(s, d, "month"),
      trendsSql("month")),

    Query("q_pagination", Batch, (s, d) =>
      Analytics.paginate(
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"), col("o_orderstatus")),
        Page("o_orderdate", ascending = false, limit = 10, offset = 20),
        whitelist = Set("o_orderdate", "o_totalprice"), tieBreaker = "o_orderkey"),
      """SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_totalprice, o_orderstatus
         FROM orders ORDER BY o_orderdate DESC, o_orderkey LIMIT 10 OFFSET 20"""),

    Query("q_point_lookup", Batch, (s, d) =>
      Analytics.categoryLookup(Tables.nation(s, d), Tables.region(s, d), nationKey = 7),
      """SELECT n_nationkey, n_name, r_name FROM nation
         JOIN region ON n_regionkey = r_regionkey WHERE n_nationkey = 7"""),

    Query("q_hierarchy", Batch, (s, d) => Analytics.hierarchy(Tables.nation(s, d), Tables.region(s, d)),
      """SELECT level, name, parent FROM (
           SELECT 'region' AS level, r_name AS name, CAST(NULL AS VARCHAR) AS parent FROM region
           UNION ALL
           SELECT 'nation', n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey)
         ORDER BY level, name"""),

    Query("q_conditional_update", Batch, (s, d) =>
      Analytics.conditionalPriceUpdate(Tables.part(s, d), partKey = 42L, newPrice = 999.99)
        .orderBy(col("p_partkey")),
      """SELECT p_partkey, p_name, p_retailprice AS old_price,
                CASE WHEN p_partkey = 42 THEN CAST(999.99 AS DOUBLE) ELSE p_retailprice END AS new_price,
                p_partkey = 42 AS updated
         FROM part ORDER BY p_partkey"""),
  )
}
