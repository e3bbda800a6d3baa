package graft
package contract

import org.apache.spark.sql.functions._

import graft.clean.Cleaning
import graft.functions._
import graft.sources.Tables
import Query.Batch

/** Scans, filters, cleaning and source loads. */
private[contract] object ScanQueries {

  val all: Seq[Query] = Seq(
    Query("q_scan_project", Batch, (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice")),
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice"""),

    Query("q_filter_between", Batch, (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderdate").between(
          to_timestamp(lit("1996-01-01 00:00:00")), to_timestamp(lit("1996-12-31 23:59:59"))))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
        .orderBy(col("o_orderkey")),
      """SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
         FROM orders
         WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 23:59:59'
         ORDER BY o_orderkey"""),

    Query("q_filter_not_in", Batch, (s, d) =>
      Tables.orders(s, d)
        .filter(!col("o_orderstatus").isInCollection(Seq("F", "CANCELLED")))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("total_value"))
        .orderBy(col("o_orderstatus")),
      """SELECT o_orderstatus, count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM orders WHERE o_orderstatus NOT IN ('F', 'CANCELLED')
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    Query("q_filter_eq_isin", Batch, (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_returnflag").isInCollection(Seq("A", "R")) &&
          col("l_linestatus") === lit("F") && col("l_quantity") >= lit(25))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"), moneySum(col("l_extendedprice")).as("gross"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag, count(*) AS n_lines,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
         FROM lineitem
         WHERE l_returnflag IN ('A', 'R') AND l_linestatus = 'F' AND l_quantity >= 25
         GROUP BY l_returnflag ORDER BY l_returnflag"""),

    Query("q_customers_no_orders", Batch, (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey"""),

    Query("q_enum_domain", Batch, (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderstatus").as("status"),
          Cleaning.domainFlag(col("o_orderstatus"), Seq("O", "F", "P")).as("is_valid"))
        .groupBy(col("status"), col("is_valid"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("status")),
      """SELECT o_orderstatus AS status, o_orderstatus IN ('O', 'F', 'P') AS is_valid, count(*) AS n
         FROM orders GROUP BY 1, 2 ORDER BY 1"""),

    // The literal JDBC load path (reference sink is PostgreSQL with batched
    // execute_values + ON CONFLICT DO NOTHING): full-load supplier into
    // embedded Derby with batchsize, replay a duplicate slice through the
    // idempotent append (must insert 0 rows), read back and compare to the
    // source — emits (n_rows, all_match) against a hash-checkable oracle.
    Query("q_jdbc_load", Batch, (s, d) => {
      import graft.sources.JdbcDemo
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
      // per-process database name: embedded Derby allows ONE JVM per
      // database (db.lck), and Verify/Bench share the tmpfs scratch dir
      val url = JdbcDemo.derbyUrl(s"graft_jdbc_demo_${ProcessHandle.current().pid()}")
      JdbcDemo.fullLoad(sup, url, "supplier_load")
      JdbcDemo.idempotentAppend(s, sup.limit(100), url, "supplier_load", Seq("s_suppkey"))
      val back = JdbcDemo.readTable(s, url, "supplier_load")
        .select(col("s_suppkey"), col("s_name").as("b_name"),
          col("s_nationkey").as("b_nationkey"), col("s_acctbal").as("b_acctbal"))
      // null-safe equality throughout: a faithfully round-tripped NULL must
      // count as a match, not fall through to the mismatch branch
      sup.join(back, Seq("s_suppkey"), "full_outer")
        .agg(
          count(lit(1)).as("n_rows"),
          (sum(when(col("s_name") <=> col("b_name") &&
            col("s_nationkey") <=> col("b_nationkey") &&
            (abs(col("s_acctbal") - col("b_acctbal")) < 0.001 ||
              (col("s_acctbal").isNull && col("b_acctbal").isNull)), 0L).otherwise(1L)) === 0L)
            .as("all_match"))
    },
      // the JDBC round-trip self-asserts (read-back equals source, duplicate
      // replay inserts nothing); the oracle pins row count + the booleans
      "SELECT count(*) AS n_rows, true AS all_match FROM supplier"),

    // Luhn checksum over synthetic 16-digit account numbers derived from
    // order keys (overflow-proof Knuth scramble) — the verification half
    // of payment-card PII detection.
    Query("q_luhn_check", Batch, (s, d) =>
      Tables.orders(s, d)
        .select(lpad((PortableHash.mix64(col("o_orderkey")) % 10000000000000000L)
          .cast("string"), 16, "0").as("acct"))
        .select(graft.clean.Cleaning.luhnValidFixed(col("acct"), 16).as("valid"))
        .groupBy(col("valid"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("valid")),
      // Luhn: identical integer fold over digit positions from the right.
      s"""WITH acct AS (SELECT lpad(CAST(${PortableHash.mix64Sql("o_orderkey")} % 10000000000000000 AS VARCHAR), 16, '0') AS a
                       FROM orders),
              v AS (SELECT list_sum([CASE WHEN x > 9 THEN x - 9 ELSE x END
                                     FOR x IN [CASE WHEN i % 2 = 0
                                                    THEN (ascii(a[len(a) - i + 1]) - 48) * 2
                                                    ELSE ascii(a[len(a) - i + 1]) - 48 END
                                               FOR i IN range(1, len(a) + 1)]]) % 10 = 0 AS valid
                    FROM acct)
         SELECT valid, count(*) AS n FROM v GROUP BY valid ORDER BY valid"""),

    // Schema-evolution read: two parquet generations (v2 adds a column),
    // one mergeSchema scan, missing values null → bucketed rollup. The
    // oracle replays the generation split from the base table.
    Query("q_schema_evolution", Batch, (s, d) => {
      // Two-generation staged layout is a pure function of the orders
      // table — memoized per data dir (and shutdown-deleted) instead of
      // re-written and leaked on every invocation.
      val dir = graft.sources.Staging.dir("schema-evo", d) { sd =>
        val o = Tables.orders(s, d)
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$sd/gen=1")
        o.filter(col("o_orderkey") % 2 =!= 0)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .write.mode("overwrite").parquet(s"$sd/gen=2")
      }.toString
      s.read.option("mergeSchema", "true").parquet(s"$dir/gen=1", s"$dir/gen=2")
        .groupBy(coalesce(col("o_orderstatus"), lit("missing")).as("status"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
        .orderBy(col("status"))
    },
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'missing' ELSE o_orderstatus END AS status,
                count(*) AS n,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY 1 ORDER BY 1"""),
  )
}
