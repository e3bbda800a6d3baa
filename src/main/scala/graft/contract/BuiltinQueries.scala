package graft
package contract

import org.apache.spark.sql.functions._

import graft.functions._
import graft.sources.Tables
import Query.Batch
import Common._

/** Plans written with Spark built-ins only: merges, windows, JSON,
  * funnels, cohorts and friends. */
private[contract] object BuiltinQueries {

  val all: Seq[Query] = Seq(
    // MERGE/upsert semantics (the production path is Delta/Iceberg MERGE;
    // the dataflow is one full-outer join on the key): matched keys update,
    // unmatched source keys insert, unmatched target keys pass through.
    Query("q_merge_upsert", Batch, (s, d) => {
      val o = Tables.orders(s, d)
      val cut = to_timestamp(lit("1997-01-01 00:00:00"))
      val target = o.filter(col("o_orderdate") < cut)
        .groupBy(col("o_custkey"))
        .agg(sum(dec2(col("o_totalprice"))).as("t_total"), count(lit(1)).as("t_n"))
      val source = o.filter(col("o_orderdate") >= cut)
        .groupBy(col("o_custkey"))
        .agg(sum(dec2(col("o_totalprice"))).as("s_total"), count(lit(1)).as("s_n"))
      target.join(source, Seq("o_custkey"), "full_outer")
        .select(
          col("o_custkey"),
          (coalesce(col("t_total"), lit(0).cast(Money)) +
            coalesce(col("s_total"), lit(0).cast(Money))).cast("double").as("total_spent"),
          (coalesce(col("t_n"), lit(0L)) + coalesce(col("s_n"), lit(0L))).as("n_orders"),
          when(col("t_n").isNotNull && col("s_n").isNotNull, "updated")
            .when(col("t_n").isNotNull, "unchanged")
            .otherwise("inserted").as("merge_action"))
        .orderBy(col("o_custkey"))
    },
      """WITH t AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total, count(*) AS n
                    FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00' GROUP BY 1),
              s AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total, count(*) AS n
                    FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' GROUP BY 1)
         SELECT COALESCE(t.o_custkey, s.o_custkey) AS o_custkey,
                CAST(COALESCE(t.total, 0) + COALESCE(s.total, 0) AS DOUBLE) AS total_spent,
                CAST(COALESCE(t.n, 0) + COALESCE(s.n, 0) AS BIGINT) AS n_orders,
                CASE WHEN t.n IS NOT NULL AND s.n IS NOT NULL THEN 'updated'
                     WHEN t.n IS NOT NULL THEN 'unchanged' ELSE 'inserted' END AS merge_action
         FROM t FULL OUTER JOIN s ON t.o_custkey = s.o_custkey
         ORDER BY o_custkey"""),

    // S5 fidelity — ON CONFLICT DO NOTHING as a dataflow: incoming rows
    // whose PK already exists are dropped (left-anti), the rest append.
    // One shuffle on the PK; at 100 TB the anti-join prunes via dynamic
    // partition pruning when the sink is PK-partitioned.
    Query("q_incremental_load", Batch, (s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val existing = o.filter(col("o_orderkey") % 3 === 0)
      val incoming = o.filter(col("o_orderkey") % 2 === 0)
      existing.unionByName(
        incoming.join(existing.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti"))
        .orderBy(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    },
      """WITH existing AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
              incoming AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0)
         SELECT * FROM existing
         UNION ALL
         SELECT * FROM incoming i
         WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.o_orderkey = i.o_orderkey)
         ORDER BY o_orderkey, o_custkey, o_totalprice"""),

    // RANGE frame over event time (trailing 1 hour by value, not row
    // count) — the time-windowed feature shape. The frame key is floored
    // epoch seconds so both engines agree on peer groups; the moving sum
    // stays exact DECIMAL.
    Query("q_window_range", Batch, (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_timestamp(col("ts")))
        .rangeBetween(-3600, Window.currentRow)
      Tables.events(s, d)
        .filter(col("user_id") < 40)
        .select(
          col("user_id"), col("event_id"), col("ts"),
          sum(dec2(col("value"))).over(w).cast("double").as("rolling_1h"),
          count(lit(1)).over(w).as("n_1h"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    },
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rolling_1h,
                count(*) OVER w AS n_1h
         FROM events WHERE user_id < 40
         WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, ts, event_id"""),

    // OLS regression from exact-decimal moments: the five sums are
    // order-independent DECIMAL (bit-identical across engines and cluster
    // sizes); the closed-form combine happens in double on both sides in
    // the same expression order. One pass, partial-merge — no ML library.
    Query("q_regr_moments", Batch, (s, d) => {
      val li = Tables.lineitem(s, d)
      val moments = li.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(dec2(col("l_quantity"))).cast("double").as("sx"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("sy"),
          sum(dec2(col("l_quantity")) * dec2(col("l_quantity"))).cast("double").as("sxx"),
          sum(dec2(col("l_quantity")) * dec2(col("l_extendedprice"))).cast("double").as("sxy"),
          sum(dec2(col("l_extendedprice")) * dec2(col("l_extendedprice"))).cast("double").as("syy"))
      val cov = moments("n") * moments("sxy") - moments("sx") * moments("sy")
      val varX = moments("n") * moments("sxx") - moments("sx") * moments("sx")
      val varY = moments("n") * moments("syy") - moments("sy") * moments("sy")
      moments.select(
        col("l_returnflag"),
        col("n").cast("long").as("n"),
        round(cov / varX, 6).as("slope"),
        round((moments("sy") - (cov / varX) * moments("sx")) / moments("n"), 6).as("intercept"),
        round((cov * cov) / (varX * varY), 6).as("r2"))
        .orderBy(col("l_returnflag"))
    },
      // same exact-decimal moments, same double combine in the same
      // expression order → bit-identical slope/intercept/r2 before round
      """WITH m AS (
           SELECT l_returnflag,
                  CAST(count(*) AS DOUBLE) AS n,
                  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
                  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n,
                round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
                round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6) AS intercept,
                round(((n*sxy - sx*sy) * (n*sxy - sx*sy)) / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
         FROM m ORDER BY l_returnflag"""),

    // Gap-fill + forward fill (LOCF): per-user day spine from the data's
    // own span (sequence/explode — distributed, no driver loop), left join
    // the daily aggregate, then last-non-null carried forward. The classic
    // time-series regularization shape: one shuffle on user_id.
    Query("q_forward_fill", Batch, (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).filter(col("user_id") < 20)
      val daily = ev
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(sum(dec2(col("value"))).cast("double").as("day_value"))
      val spine = ev.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("mn"), max(to_date(col("ts"))).as("mx"))
        .select(col("user_id"),
          explode(sequence(col("mn"), col("mx"), expr("interval 1 day"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(
          col("user_id"), col("day").cast("timestamp").as("day"), col("day_value"),
          last(col("day_value"), ignoreNulls = true).over(w).as("filled_value"))
        .orderBy(col("user_id"), col("day"))
    },
      """WITH ev AS (SELECT * FROM events WHERE user_id < 20),
         daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
                          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
                   FROM ev GROUP BY 1, 2),
         spine AS (SELECT user_id,
                          CAST(unnest(generate_series(CAST(mn AS TIMESTAMP), CAST(mx AS TIMESTAMP),
                                                      INTERVAL 1 DAY)) AS DATE) AS day
                   FROM (SELECT user_id, min(CAST(ts AS DATE)) AS mn, max(CAST(ts AS DATE)) AS mx
                         FROM ev GROUP BY 1))
         SELECT s.user_id, CAST(s.day AS TIMESTAMP) AS day, d.day_value,
                last_value(d.day_value IGNORE NULLS)
                  OVER (PARTITION BY s.user_id ORDER BY s.day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
         FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
         ORDER BY 1, 2"""),

    // Higher-order array functions (filter/transform/distinct/sort/slice)
    // — all codegen-friendly built-ins, no UDF, no explode/re-group cycle.
    Query("q_array_hof", Batch, (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          array_sort(array_distinct(
            filter(tokens(col("text")), t => length(t) >= 6))).as("lt"))
        .select(
          col("doc_id"),
          size(col("lt")).as("n_long"),
          concat_ws(",", slice(col("lt"), 1, 3)).as("first3"))
        .orderBy(col("doc_id")),
      """SELECT doc_id, CAST(len(lt) AS INT) AS n_long,
                COALESCE(array_to_string(lt[1:3], ','), '') AS first3
         FROM (SELECT doc_id,
                      list_sort(list_distinct(list_filter(string_split(text, ' '), x -> len(x) >= 6))) AS lt
               FROM documents)
         ORDER BY doc_id"""),

    // dense_rank / cume_dist / nth_value in one partitioned window (unique
    // ordering ⇒ deterministic ties across engines).
    Query("q_cume_dist_nth", Batch, (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, d).select(
        col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        dense_rank().over(w).as("drank"),
        round(cume_dist().over(w), 6).as("cd"),
        nth_value(col("c_custkey"), 3).over(w).as("third_key"))
        .orderBy(col("c_mktsegment"), col("drank"), col("c_custkey"))
    },
      """SELECT c_mktsegment, c_custkey, c_acctbal,
                CAST(dense_rank() OVER w AS INT) AS drank,
                round(cume_dist() OVER w, 6) AS cd,
                nth_value(c_custkey, 3) OVER w AS third_key
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
         ORDER BY c_mktsegment, drank, c_custkey"""),

    // Calendar arithmetic: month bucket, month end (last_day), month
    // length, quarter — the dim_time derivations as inline expressions.
    Query("q_date_arith", Batch, (s, d) =>
      Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month_start"))
        .agg(count(lit(1)).as("n_orders"))
        .select(
          col("month_start"),
          last_day(col("month_start")).cast("timestamp").as("month_end"),
          (datediff(last_day(col("month_start")), col("month_start").cast("date")) + 1)
            .as("days_in_month"),
          quarter(col("month_start")).as("qtr"),
          col("n_orders"))
        .orderBy(col("month_start")),
      """SELECT month_start,
                CAST(last_day(CAST(month_start AS DATE)) AS TIMESTAMP) AS month_end,
                CAST(date_diff('day', CAST(month_start AS DATE), last_day(CAST(month_start AS DATE))) + 1 AS INT) AS days_in_month,
                CAST(quarter(month_start) AS INT) AS qtr,
                n_orders
         FROM (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
                      count(*) AS n_orders
               FROM orders GROUP BY 1)
         ORDER BY month_start"""),

    // Skew-proof large×large join: probe rows carry a deterministic salt,
    // the build side replicates ×SALT, so ONE hot key spreads across SALT
    // reducers instead of melting one. Result ≡ the unsalted join (the
    // oracle). AQE's skew-join split is the automatic variant; salting is
    // the portable one that also works mid-aggregation.
    Query("q_salted_join", Batch, (s, d) => {
      val SALT = 4
      val li = Tables.lineitem(s, d)
        .withColumn("salt",
          pmod(xxhash64(col("l_linenumber"), col("l_extendedprice")), lit(SALT)).cast("int"))
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          explode(sequence(lit(0), lit(SALT - 1))).as("salt"))
      li.join(o,
          li("l_orderkey") === o("o_orderkey") && li("salt") === o("salt"))
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_lines"),
          decSum(lineRevenueDec(col("l_extendedprice"), col("l_discount"))).as("revenue"))
        .orderBy(col("o_orderstatus"))
    },
      // the oracle is the UNSALTED join — salting must be a pure plan-level
      // rewrite with zero result change
      s"""SELECT o_orderstatus, count(*) AS n_lines, $RevSum AS revenue
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1 ORDER BY 1"""),

    // Boolean / bitwise aggregates + exact median (one pass; median is the
    // only sort-based one — groups are returnflag-sized, never row-sized).
    Query("q_bool_bit_agg", Batch, (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("bool_and(l_quantity > 0)").as("all_qty_positive"),
          expr("bool_or(l_discount > 0.05)").as("any_big_discount"),
          expr("bit_and(l_linenumber)").as("ln_band"),
          expr("bit_or(l_linenumber)").as("ln_bor"),
          expr("bit_xor(l_linenumber)").as("ln_bxor"),
          round(expr("median(l_quantity)"), 4).as("median_qty"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag,
                bool_and(l_quantity > 0) AS all_qty_positive,
                bool_or(l_discount > 0.05) AS any_big_discount,
                CAST(bit_and(l_linenumber) AS INT) AS ln_band,
                CAST(bit_or(l_linenumber) AS INT) AS ln_bor,
                CAST(bit_xor(l_linenumber) AS INT) AS ln_bxor,
                round(median(l_quantity), 4) AS median_qty
         FROM lineitem GROUP BY 1 ORDER BY 1"""),

    // CSV robustness (S1/S2 beyond the reference): PERMISSIVE mode parses
    // what it can, quarantines broken rows via the corrupt-record column
    // instead of failing the job (DROPMALFORMED / FAILFAST are the other
    // dial positions). Inline literal rows keep the case self-contained.
    Query("q_csv_malformed", Batch, (s, d) => {
      import s.implicits._
      val raw = Seq(
        "id,qty,price",
        "1,5,10.50",
        "2,oops,3.25",
        "3,7",
        "4,2,99.00").toDS()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("qty", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("price", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("_corrupt_record", org.apache.spark.sql.types.StringType)))
      s.read
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema)
        .csv(raw)
        .select(col("id"), col("qty"), col("price"),
          col("_corrupt_record").isNotNull.as("malformed"))
        .orderBy(col("id"))
    },
      // expected output of the inline malformed CSV (see q_csv_malformed):
      // row 2 fails the int parse (field nulled, row quarantined), row 3 is
      // short (missing fields padded with null, row quarantined)
      """SELECT CAST(id AS INT) AS id, CAST(qty AS INT) AS qty,
                CAST(price AS DOUBLE) AS price, malformed
         FROM (VALUES (1, 5, 10.50, false),
                      (2, NULL, 3.25, true),
                      (3, 7, NULL, true),
                      (4, 2, 99.00, false)) t(id, qty, price, malformed)
         ORDER BY id"""),

    // JSON-lines SOURCE with quarantine (the spark.read.json twin of the
    // CSV path): explicit schema (no sampling-based inference at 100 TB),
    // PERMISSIVE corrupt-record capture, nested-struct projection. Rows
    // that fail record- or field-level parsing surface with
    // `malformed=true` instead of killing the load.
    Query("q_json_lines", Batch, (s, d) => {
      import s.implicits._
      val raw = Seq(
        """{"id": 1, "qty": 5, "meta": {"tag": "a"}}""",
        """{"id": 2, "qty": "oops", "meta": {"tag": "b"}}""",
        """{"id": 3, "qty": 7}""",
        """this is not json""",
        """{"id": 5, "qty": 2, "meta": {"tag": "c"}}""").toDS()
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("id", IntegerType),
        StructField("qty", IntegerType),
        StructField("meta", StructType(Seq(StructField("tag", StringType)))),
        StructField("_corrupt_record", StringType)))
      s.read
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema)
        .json(raw)
        .select(col("id"), col("qty"), col("meta.tag").as("tag"),
          col("_corrupt_record").isNotNull.as("malformed"))
        .orderBy(col("id").asc_nulls_first, col("malformed"))
    },
      // Pinned PERMISSIVE semantics: record-level garbage → all-null row with
      // the corrupt flag; field-level type error → other fields survive, row
      // still flagged; missing nested struct → null, NOT flagged.
      """SELECT CAST(id AS INT) AS id, CAST(qty AS INT) AS qty, tag, malformed
         FROM (VALUES (NULL, NULL, NULL, true),
                      (1, 5, 'a', false),
                      (2, NULL, 'b', true),
                      (3, 7, NULL, false),
                      (5, 2, 'c', false)) t(id, qty, tag, malformed)
         ORDER BY id NULLS FIRST, malformed"""),

    // RFM segmentation (recency/frequency/monetary quartile scores): per-
    // customer rollup, then bucket each metric against its exact quartile
    // thresholds. Thresholds come from ONE scalar aggregate broadcast back
    // — NOT a global ntile window, which would funnel every customer
    // through a single reducer. Comparisons against interpolated
    // thresholds are engine-stable: a data value can only equal a
    // threshold when the interpolation is exact.
    Query("q_rfm", Batch, (s, d) => {
      val m = Tables.orders(s, d).groupBy(col("o_custkey")).agg(
        unix_timestamp(max(col("o_orderdate"))).as("recency_ts"),
        count(lit(1)).as("frequency"),
        sum(dec2(col("o_totalprice"))).cast("double").as("monetary"))
      val t = m.agg(
        expr("percentile(recency_ts, array(0.25, 0.5, 0.75))").as("rq"),
        expr("percentile(frequency, array(0.25, 0.5, 0.75))").as("fq"),
        expr("percentile(monetary, array(0.25, 0.5, 0.75))").as("mq"))
      def score(v: org.apache.spark.sql.Column, q: String) =
        (lit(1) + (v > element_at(col(q), 1)).cast("int")
          + (v > element_at(col(q), 2)).cast("int")
          + (v > element_at(col(q), 3)).cast("int"))
      m.crossJoin(broadcast(t))
        .select(
          col("o_custkey"),
          score(col("recency_ts"), "rq").as("r_score"),
          score(col("frequency"), "fq").as("f_score"),
          score(col("monetary"), "mq").as("m_score"))
        .withColumn("segment",
          concat(col("r_score"), col("f_score"), col("m_score")))
        .orderBy(col("o_custkey"))
    },
      """WITH m AS (SELECT o_custkey,
                           CAST(floor(epoch(max(o_orderdate))) AS BIGINT) AS recency_ts,
                           count(*) AS frequency,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
                    FROM orders GROUP BY 1),
              t AS (SELECT quantile_cont(recency_ts * 1.0, [0.25, 0.5, 0.75]) AS rq,
                           quantile_cont(frequency * 1.0, [0.25, 0.5, 0.75]) AS fq,
                           quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mq
                    FROM m)
         SELECT o_custkey,
                CAST(1 + (recency_ts > rq[1])::INT + (recency_ts > rq[2])::INT + (recency_ts > rq[3])::INT AS INT) AS r_score,
                CAST(1 + (frequency > fq[1])::INT + (frequency > fq[2])::INT + (frequency > fq[3])::INT AS INT) AS f_score,
                CAST(1 + (monetary > mq[1])::INT + (monetary > mq[2])::INT + (monetary > mq[3])::INT AS INT) AS m_score,
                CAST(1 + (recency_ts > rq[1])::INT + (recency_ts > rq[2])::INT + (recency_ts > rq[3])::INT AS VARCHAR)
                  || CAST(1 + (frequency > fq[1])::INT + (frequency > fq[2])::INT + (frequency > fq[3])::INT AS VARCHAR)
                  || CAST(1 + (monetary > mq[1])::INT + (monetary > mq[2])::INT + (monetary > mq[3])::INT AS VARCHAR) AS segment
         FROM m, t ORDER BY o_custkey"""),

    // Sequential funnel (view → click → purchase, each stage's first event
    // at-or-after the previous stage's): per-stage conditional min-ts
    // aggregations chained by join — stage k's user set is a subset of
    // stage k-1's, so the stage number is a sum of membership flags.
    // Three shuffles on user_id, each over a type-prefiltered slice.
    Query("q_funnel", Batch, (s, d) => {
      val ev = Tables.events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") >= col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") >= col("t_click"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      ev.select(col("user_id")).distinct()
        .join(v.select(col("user_id"), lit(1).as("s1")), Seq("user_id"), "left")
        .join(c.select(col("user_id"), lit(1).as("s2")), Seq("user_id"), "left")
        .join(p.select(col("user_id"), lit(1).as("s3")), Seq("user_id"), "left")
        .select((coalesce(col("s1"), lit(0)) + coalesce(col("s2"), lit(0))
          + coalesce(col("s3"), lit(0))).cast("int").as("funnel_stage"))
        .groupBy(col("funnel_stage")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("funnel_stage"))
    },
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
                    WHERE event_type = 'view' GROUP BY 1),
              c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
                    JOIN v ON e.user_id = v.user_id
                    WHERE e.event_type = 'click' AND e.ts >= v.t_view GROUP BY 1),
              p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
                    JOIN c ON e.user_id = c.user_id
                    WHERE e.event_type = 'purchase' AND e.ts >= c.t_click GROUP BY 1),
              allu AS (SELECT DISTINCT user_id FROM events)
         SELECT CAST(CASE WHEN v.user_id IS NULL THEN 0
                          WHEN c.user_id IS NULL THEN 1
                          WHEN p.user_id IS NULL THEN 2 ELSE 3 END AS INT) AS funnel_stage,
                count(*) AS n_users
         FROM allu a LEFT JOIN v ON a.user_id = v.user_id
                     LEFT JOIN c ON a.user_id = c.user_id
                     LEFT JOIN p ON a.user_id = p.user_id
         GROUP BY 1 ORDER BY 1"""),

    // Cohort retention: cohort = a user's first active week; cell (cohort,
    // offset) counts distinct users active that many weeks later.
    Query("q_cohort_retention", Batch, (s, d) => {
      val w = Tables.events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      val cohort = w.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      w.join(cohort, "user_id")
        .groupBy(
          col("cohort_wk"),
          (datediff(col("wk").cast("date"), col("cohort_wk").cast("date")) / 7)
            .cast("int").as("week_offset"))
        .agg(countDistinct(col("user_id")).as("active_users"))
        .orderBy(col("cohort_wk"), col("week_offset"))
    },
      """WITH w AS (SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk FROM events),
              c AS (SELECT user_id, min(wk) AS cohort_wk FROM w GROUP BY 1)
         SELECT c.cohort_wk,
                CAST(date_diff('day', CAST(c.cohort_wk AS DATE), CAST(w.wk AS DATE)) / 7 AS INT) AS week_offset,
                count(DISTINCT w.user_id) AS active_users
         FROM w JOIN c ON w.user_id = c.user_id
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // explode_outer: a doc whose filter leaves NO tokens still emits one
    // null row — the inner-explode variant silently drops such parents
    // (the classic lost-rows ETL trap).
    Query("q_explode_outer", Batch, (s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 120)
        .select(col("doc_id"),
          explode_outer(filter(tokens(col("text")), t => length(t) >= 9)).as("long_token"))
        .orderBy(col("doc_id"), col("long_token")),
      // LEFT LATERAL unnest keeps empty-list parents as a NULL row, matching
      // explode_outer; NULLS FIRST mirrors Spark's ascending null order
      """SELECT d.doc_id, u.long_token
         FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) >= 9) AS lt
               FROM documents WHERE doc_id < 120) d
         LEFT JOIN LATERAL (SELECT unnest(d.lt) AS long_token) u ON true
         ORDER BY doc_id, long_token NULLS FIRST"""),

    // Ordinal explode (LATERAL VIEW posexplode): token + position — the
    // tokenization shape that keeps word order for downstream n-grams.
    Query("q_posexplode", Batch, (s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))
        .orderBy(col("doc_id"), col("pos")),
      // zipped unnests emulate posexplode's (pos, value) pairs
      """SELECT doc_id,
                CAST(unnest(generate_series(1, len(toks))) - 1 AS INT) AS pos,
                unnest(toks) AS token
         FROM (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents WHERE doc_id < 50)
         ORDER BY doc_id, pos"""),

    // Sequence-gap detection WITHOUT a global window: key k starts a gap
    // iff k+1 is absent — a distributed anti-join against the shifted key
    // set (distinct column names; a same-name self-join silently resolves
    // to a trivially-true condition). The lag()-over-everything formulation
    // would funnel all keys through one reducer; this shape scales to any
    // key count. Gaps are planted by dropping event_id ≡ 13 (mod 97) from
    // the dense event_id sequence.
    Query("q_gap_detect", Batch, (s, d) => {
      val keys = Tables.events(s, d)
        .filter(col("event_id") % 97 =!= 13)
        .select(col("event_id").as("k")).distinct()
      val hasSucc = keys.select((col("k") - 1).as("pred"))
      keys.join(hasSucc, col("k") === col("pred"), "left_anti")
        .crossJoin(broadcast(keys.agg(max(col("k")).as("mx"))))
        .filter(col("k") < col("mx"))
        .select((col("k") + 1).as("gap_start"))
        .orderBy(col("gap_start"))
    },
      """WITH keys AS (SELECT DISTINCT event_id AS k FROM events WHERE event_id % 97 <> 13),
              mx AS (SELECT max(k) AS mx FROM keys)
         SELECT ko.k + 1 AS gap_start FROM keys ko, mx
         WHERE ko.k < mx AND NOT EXISTS (SELECT 1 FROM keys k2 WHERE k2.k = ko.k + 1)
         ORDER BY gap_start"""),

    // Stratified deterministic sampling: per-stratum rates via the same
    // overflow-proof multiplicative hash as q_sample_hash — the
    // training-data downsampling shape (reproducible across engines,
    // cluster sizes, and runs; no RNG state).
    Query("q_stratified_sample", Batch, (s, d) => {
      val rate = when(col("l_returnflag") === "A", 7)
        .when(col("l_returnflag") === "N", 13)
        .otherwise(3)
      Tables.lineitem(s, d)
        .filter((PortableHash.mix64(col("l_orderkey")) + col("l_linenumber")) % rate === 0)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("gross"))
        .orderBy(col("l_returnflag"))
    },
      s"""SELECT l_returnflag, count(*) AS n,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
         FROM lineitem
         WHERE (${PortableHash.mix64Sql("l_orderkey")} + l_linenumber)
               % (CASE l_returnflag WHEN 'A' THEN 7 WHEN 'N' THEN 13 ELSE 3 END) = 0
         GROUP BY 1 ORDER BY 1"""),

    // Equi-depth histogram boundaries (deciles) — the partition-split
    // planning primitive (range-partitioner boundaries, bucketing splits).
    Query("q_equi_depth", Batch, (s, d) =>
      Tables.orders(s, d)
        .agg(expr(
          "percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("b"))
        .select(posexplode(col("b")).as(Seq("i", "boundary")))
        .select(col("i").cast("int").as("i"), round(col("boundary"), 4).as("boundary"))
        .orderBy(col("i")),
      """SELECT CAST(unnest(generate_series(0, 8)) AS INT) AS i,
                round(unnest(b), 4) AS boundary
         FROM (SELECT quantile_cont(o_totalprice, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS b
               FROM orders)
         ORDER BY i"""),

    // Typed JSON parsing: from_json with an explicit schema (analysis-time
    // typed fields, codegen'd parse — vs get_json_object's per-call string
    // extraction in q_json_extract).
    Query("q_json_flatten", Batch, (s, d) => {
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType)))
      // the parse appears in exactly ONE expression (the grouping key) — a
      // separate filter on the parsed field would make CollapseProject
      // re-run from_json per reference (SCALE.md lesson 1); unparseable
      // rows land in the null-decile group on both engines instead
      Tables.events(s, d)
        .select(col("event_type"), col("value"), from_json(col("props"), sch).as("p"))
        .groupBy(col("event_type"), floor(col("p.k") / 10).cast("int").as("k_decile"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("value_sum"))
        .orderBy(col("event_type"), col("k_decile"))
    },
      """SELECT event_type,
                CAST(floor(CAST(json_extract_string(props, '$.k') AS INT) / 10.0) AS INT) AS k_decile,
                count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM events
         GROUP BY 1, 2 ORDER BY 1, 2 NULLS FIRST"""),

    // Null-safe equality join (<=>): NULL keys match each other — the
    // "unknown bucket joins the unknown dim row" shape a plain equi-join
    // silently drops.
    Query("q_null_safe_join", Batch, (s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d)
        .select(expr("nullif(o_custkey % 5, 4)").as("k5"), col("o_totalprice"))
      val dim = Seq[(java.lang.Long, String)](
        (0L, "g0"), (1L, "g1"), (2L, "g2"), (3L, "g3"), (null, "gnull"))
        .toDF("k", "label")
      o.join(broadcast(dim), o("k5") <=> dim("k"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
        .orderBy(col("label"))
    },
      """WITH o AS (SELECT nullif(o_custkey % 5, 4) AS k5, o_totalprice FROM orders),
              dim(k, label) AS (SELECT * FROM (VALUES (0, 'g0'), (1, 'g1'), (2, 'g2'), (3, 'g3'), (NULL, 'gnull')) v)
         SELECT label, count(*) AS n,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM o JOIN dim ON o.k5 IS NOT DISTINCT FROM dim.k
         GROUP BY 1 ORDER BY 1"""),

    // Deterministic per-group mode: built-in mode() breaks ties engine-
    // dependently, so derive it — count (group, value) pairs, then arg-max
    // by the collision-free key n*10000 - value (count wins, ties go to the
    // SMALLER value; exact for integer counts and |value| < 100). Two
    // aggregations, no sort, no window.
    Query("q_mode", Batch, (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("l_returnflag"))
        .agg(
          expr("max_by(l_quantity, n * 10000 - l_quantity)").as("mode_qty"),
          max(col("n")).as("mode_count"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag,
                arg_max(l_quantity, n * 10000 - l_quantity) AS mode_qty,
                max(n) AS mode_count
         FROM (SELECT l_returnflag, l_quantity, count(*) AS n
               FROM lineitem GROUP BY 1, 2)
         GROUP BY 1 ORDER BY 1"""),

    // arg-max/arg-min aggregation (max_by/min_by): value of one column at
    // another column's extremum, one pass — no self-join, no window.
    Query("q_argmax", Batch, (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(
          expr("max_by(o_orderstatus, o_orderkey)").as("latest_status"),
          expr("min_by(o_orderdate, o_orderkey)").as("first_order_date"),
          max(col("o_orderkey")).as("last_orderkey"))
        .orderBy(col("o_custkey")),
      """SELECT o_custkey,
                arg_max(o_orderstatus, o_orderkey) AS latest_status,
                CAST(arg_min(o_orderdate, o_orderkey) AS TIMESTAMP) AS first_order_date,
                max(o_orderkey) AS last_orderkey
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // Weighted average from two exact-decimal sums (one pass, no window):
    // quantity-weighted mean unit price per line status.
    Query("q_weighted_avg", Batch, (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .agg(
          sum(dec2(col("l_extendedprice")) * dec2(col("l_quantity"))).cast("double").as("wsum"),
          sum(dec2(col("l_quantity"))).cast("double").as("wtot"))
        .select(
          col("l_linestatus"),
          round(col("wsum") / col("wtot"), 6).as("weighted_avg_price"))
        .orderBy(col("l_linestatus")),
      """SELECT l_linestatus,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                      / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS weighted_avg_price
         FROM lineitem GROUP BY 1 ORDER BY 1"""),

    // URL canonicalization (the C4/RefinedWeb document-identity step):
    // deterministic messy URLs derived per document — case-chaotic scheme
    // and host, userinfo, www., default and non-default ports, trailing
    // slashes, utm_*/click-id tracking params in shuffled order, fragments
    // — normalized by the pure-Column UrlOps chain (whole-stage codegen,
    // map-side at scan speed). The oracle constructs the EXPECTED canonical
    // directly from the components, so the two sides agree only if every
    // normalization lands exactly.
    Query("q_url_canonicalize", Batch, (s, d) => {
      val id = col("doc_id")
      val messy = concat(
        when(id % 3 === 0, lit("HtTpS")).otherwise(lit("hTtp")), lit("://"),
        when(id % 4 === 0, lit("user:pw@")).otherwise(lit("")),
        when(id % 5 === 0, lit("WWW.")).otherwise(lit("")),
        col("source"), lit("."),
        when(id % 7 === 0, lit("co.uk")).otherwise(lit("com")),
        when(id % 4 === 1, lit(":80"))
          .when(id % 4 === 3, lit(":8080")).otherwise(lit("")),
        lit("/Docs/"), col("lang"), lit("/"), (id % 100).cast("string"),
        when(id % 2 === 0, lit("/")).otherwise(lit("")),
        when(id % 3 === 0, lit("?b=2&utm_source=feed&a=1"))
          .when(id % 3 === 1, lit("?a=1&fbclid=XyZ&b=2")).otherwise(lit("")),
        when(id % 5 === 1, lit("#section-2")).otherwise(lit("")))
      Tables.documents(s, d)
        .select(id, messy.as("url"))
        .select(id,
          UrlOps.canonicalizeUrl(col("url")).as("canonical_url"),
          UrlOps.registeredDomain(UrlOps.urlHost(col("url"))).as("domain"))
        .orderBy("doc_id")
    },
      // The oracle does NOT replay the normalization regexes — it assembles
      // the expected canonical straight from the derivation components
      // (lowercased scheme, www-less host, default ports dropped, tracking
      // params gone and survivors sorted, no trailing slash, no fragment).
      // Any normalization miss on the Spark side breaks the hash.
      """SELECT doc_id,
                CASE WHEN doc_id % 3 = 0 THEN 'https' ELSE 'http' END || '://' ||
                source || '.' ||
                CASE WHEN doc_id % 7 = 0 THEN 'co.uk' ELSE 'com' END ||
                CASE WHEN doc_id % 4 = 1 AND doc_id % 3 = 0 THEN ':80'
                     WHEN doc_id % 4 = 3 THEN ':8080' ELSE '' END ||
                '/Docs/' || lang || '/' || CAST(doc_id % 100 AS VARCHAR) ||
                CASE WHEN doc_id % 3 = 2 THEN '' ELSE '?a=1&b=2' END AS canonical_url,
                source || '.' ||
                CASE WHEN doc_id % 7 = 0 THEN 'co.uk' ELSE 'com' END AS domain
         FROM documents ORDER BY doc_id"""),

    // Canonical-URL dedup: raw URLs that differ syntactically (case, www.,
    // tracking params, fragments) collapse to one canonical group;
    // first-occurrence keep + member count per group. The group key is
    // computed map-side; the only shuffle is the groupBy on the canonical —
    // at 100 TB this is a single hash-agg over the crawl, the cheapest
    // possible dedup pass and the reason pipelines run it before any
    // content-based dedup.
    Query("q_url_dedup", Batch, (s, d) => {
      val messy = concat(
        when(col("n_chars") % 2 === 0, lit("HTTP")).otherwise(lit("http")),
        lit("://"),
        when(col("doc_id") % 2 === 0, lit("www.")).otherwise(lit("")),
        col("source"), lit(".com/"), col("lang"), lit("/item/"),
        (col("n_chars") % 40).cast("string"),
        when(col("doc_id") % 3 === 0, lit("?utm_campaign=x")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("#top")).otherwise(lit("")))
      Tables.documents(s, d)
        .select(col("doc_id"), UrlOps.canonicalizeUrl(messy).as("canonical_url"))
        .groupBy("canonical_url")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_members"))
        .orderBy("canonical_url")
    },
      // Same principle: the oracle groups on the canonical it constructs
      // directly, so the Spark side's messy-URL collapse must land exactly.
      """SELECT 'http://' || source || '.com/' || lang || '/item/' ||
                  CAST(n_chars % 40 AS VARCHAR) AS canonical_url,
                min(doc_id) AS keep_id, count(*) AS n_members
         FROM documents GROUP BY 1 ORDER BY 1"""),

    // Cumulative unique users by first-appearance date — the exact
    // running-distinct trick: a user contributes to the cumulative curve
    // only on min(date), so the "running distinct" collapses to one
    // groupBy + a tiny date-domain window (never a per-row distinct
    // scan). DATE output surfaced as midnight TIMESTAMP per repo
    // convention.
    Query("q_cumulative_uniques", Batch, (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val first = Tables.events(s, d)
        .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("fd"))
      val daily = first.groupBy(col("fd")).agg(count(lit(1)).as("new_users"))
      val w = Window.orderBy(col("fd"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.select(col("fd").cast("timestamp").as("event_date"),
          col("new_users"), sum(col("new_users")).over(w).as("cum_users"))
        .orderBy(col("event_date"))
    },
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS fd FROM events GROUP BY 1),
              d AS (SELECT fd, count(*) AS new_users FROM f GROUP BY 1)
         SELECT CAST(fd AS TIMESTAMP) AS event_date, new_users,
                CAST(sum(new_users) OVER (ORDER BY fd ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
         FROM d ORDER BY event_date"""),

    // DAU/WAU via mergeable HLL sketches: ONE sketch per day, trailing
    // 7-day actives = union of the daily sketches (the mergeability
    // story — weekly/monthly rollups reuse the same daily sketches
    // instead of rescanning users). The rolling window is an EQUI-join:
    // each daily row explodes to the ≤7 target days it contributes to
    // (d = dt+0..dt+6), then one hash-shuffle on d merges the sketches —
    // linear ×7 map-side expansion, never a days×daily nested loop (a
    // date-BETWEEN join is O(|days|·|rows|) and trips the CartesianGuard
    // at sf0.1 already). Self-asserting ≤5% error vs exact twins built
    // the same exploded way; the oracle recomputes the exacts and pins
    // the booleans.
    Query("q_dau_mau", Batch, (s, d) => {
      val du = Tables.events(s, d)
        .select(to_date(col("ts")).as("dt"), col("user_id")).distinct()
      val daily = du.groupBy(col("dt")).agg(
        expr("hll_sketch_agg(user_id)").as("sk"),
        count(lit(1)).as("exact_dau"))
      val days = daily.select(col("dt").as("d"))
      val off = explode(sequence(lit(0), lit(6))).as("off")
      val wau = daily.select(col("sk"), expr("date_add(dt, off)").as("d"), off)
        .join(days, Seq("d")) // only days that exist in the data
        .groupBy(col("d"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_wau"))
      val exactWau = du
        .select(col("user_id"), expr("date_add(dt, off)").as("d"), off)
        .join(days, Seq("d"))
        .groupBy(col("d")).agg(countDistinct(col("user_id")).as("exact_wau"))
      daily.select(col("dt").as("d"),
          expr("hll_sketch_estimate(sk)").as("est_dau"), col("exact_dau"))
        .join(wau, Seq("d")).join(exactWau, Seq("d"))
        .select(col("d").cast("timestamp").as("event_date"),
          col("exact_dau"), col("exact_wau"),
          (abs(col("est_dau").cast("double") - col("exact_dau").cast("double"))
            / col("exact_dau").cast("double") <= 0.05).as("dau_ok"),
          (abs(col("est_wau").cast("double") - col("exact_wau").cast("double"))
            / col("exact_wau").cast("double") <= 0.05).as("wau_ok"))
        .orderBy(col("event_date"))
    },
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS dt, user_id FROM events),
              days AS (SELECT DISTINCT dt AS d FROM du),
              dau AS (SELECT dt AS d, count(*) AS exact_dau FROM du GROUP BY 1),
              wau AS (SELECT days.d, count(DISTINCT u.user_id) AS exact_wau
                      FROM days JOIN du u ON u.dt BETWEEN days.d - INTERVAL 6 DAY AND days.d
                      GROUP BY 1)
         SELECT CAST(days.d AS TIMESTAMP) AS event_date,
                dau.exact_dau, wau.exact_wau,
                true AS dau_ok, true AS wau_ok
         FROM days JOIN dau ON days.d = dau.d JOIN wau ON days.d = wau.d
         ORDER BY event_date""",
      // Contract form: sketch estimates ⋈ exact twins (×7 exploded
      // countDistinct) + ≤5% bound agg. Operator: daily HLL sketches +
      // trailing-7-day sketch unions — the mergeable-rollup production path.
      benchPlan = Some((s, d) => {
        val du = Tables.events(s, d)
          .select(to_date(col("ts")).as("dt"), col("user_id")).distinct()
        val daily = du.groupBy(col("dt")).agg(expr("hll_sketch_agg(user_id)").as("sk"))
        val days = daily.select(col("dt").as("d"))
        val off = explode(sequence(lit(0), lit(6))).as("off")
        val wau = daily.select(col("sk"), expr("date_add(dt, off)").as("d"), off)
          .join(days, Seq("d"))
          .groupBy(col("d"))
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_wau"))
        daily.select(col("dt").as("d"), expr("hll_sketch_estimate(sk)").as("est_dau"))
          .join(wau, Seq("d"))
          .orderBy(col("d"))
      })),

    // GROUP BY ALL / ORDER BY ALL — the same modern-SQL text runs in both
    // engines verbatim.
    Query("q_sql_group_by_all", Batch, (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty
          |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin)
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty
         FROM lineitem GROUP BY ALL ORDER BY ALL"""),

    // Benford first-digit audit of order totals: per-digit observed vs
    // the Benford expectation log10(1 + 1/d), with the chi-square
    // contribution per digit — a standard forensic/data-quality gate
    // (the statistic measures deviation; the data need not conform).
    Query("q_benford", Batch, (s, d) => {
      val dd = (c: org.apache.spark.sql.Column) => c.cast("double")
      val counts = Tables.orders(s, d)
        .filter(col("o_totalprice") >= 1.0)
        .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      val total = counts.agg(sum(col("n_obs")).as("n_total"))
      counts.crossJoin(broadcast(total))
        .withColumn("__p", log(lit(1.0) + lit(1.0) / dd(col("digit"))) / log(lit(10.0)))
        .select(col("digit"), col("n_obs"), col("n_total"),
          round(col("__p"), 6).as("benford_p"),
          round(pow(dd(col("n_obs")) - dd(col("n_total")) * col("__p"), 2)
            / (dd(col("n_total")) * col("__p")), 6).as("chi2_term"))
        .orderBy(col("digit"))
    },
      """WITH counts AS (SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
                                count(*) AS n_obs
                         FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1),
              tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM counts),
              sel AS (SELECT digit, n_obs, n_total,
                             ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) AS p
                      FROM counts CROSS JOIN tot)
         SELECT digit, n_obs, n_total,
                round(p, 6) AS benford_p,
                round(pow(CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * p, 2)
                      / (CAST(n_total AS DOUBLE) * p), 6) AS chi2_term
         FROM sel ORDER BY digit"""),

    // Per-priority Benford audit — "WHICH segment's totals deviate?":
    // the same per-digit observed-vs-expected chi-square terms with the
    // priority riding the digit counts and the per-segment totals (the
    // forensic question is always per data source / per segment once the
    // global gate flags).
    Query("q_benford_by_priority", Batch, (s, d) => {
      val dd = (c: org.apache.spark.sql.Column) => c.cast("double")
      val counts = Tables.orders(s, d)
        .filter(col("o_totalprice") >= 1.0)
        .select(col("o_orderpriority"),
          substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
            .cast("int").as("digit"))
        .groupBy(col("o_orderpriority"), col("digit")).agg(count(lit(1)).as("n_obs"))
      val total = counts.groupBy(col("o_orderpriority")).agg(sum(col("n_obs")).as("n_total"))
      counts.join(total, "o_orderpriority")
        .withColumn("__p", log(lit(1.0) + lit(1.0) / dd(col("digit"))) / log(lit(10.0)))
        .select(col("o_orderpriority"), col("digit"), col("n_obs"), col("n_total"),
          round(col("__p"), 6).as("benford_p"),
          round(pow(dd(col("n_obs")) - dd(col("n_total")) * col("__p"), 2)
            / (dd(col("n_total")) * col("__p")), 6).as("chi2_term"))
        .orderBy(col("o_orderpriority"), col("digit"))
    },
      // Grouped Benford: the same chain with the priority riding counts
      // and totals.
      """WITH counts AS (SELECT o_orderpriority,
                                CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
                                count(*) AS n_obs
                         FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1, 2),
              tot AS (SELECT o_orderpriority, CAST(sum(n_obs) AS BIGINT) AS n_total
                      FROM counts GROUP BY 1),
              sel AS (SELECT counts.o_orderpriority, digit, n_obs, n_total,
                             ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) AS p
                      FROM counts JOIN tot ON counts.o_orderpriority = tot.o_orderpriority)
         SELECT o_orderpriority, digit, n_obs, n_total,
                round(p, 6) AS benford_p,
                round(pow(CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * p, 2)
                      / (CAST(n_total AS DOUBLE) * p), 6) AS chi2_term
         FROM sel ORDER BY o_orderpriority, digit"""),
  )
}
