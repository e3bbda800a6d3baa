package graft
package contract

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions._
import graft.sources.Tables
import graft.streaming.EventStreams
import Query.{Batch, Stream}

/** Event streams and event-time joins, as-of and range joins, and
  * string search over the events and documents tables. */
private[contract] object StreamingQueries {

  /** Oracle for the streaming W1 monitor: same rank-rule reference
    * deciles as `q_events_psi_stream`, then the SAME fixed left-to-right
    * 8-term chain of exact-integer ECDF numerators × edge gaps the Spark
    * side folds (HUGEINT twins DECIMAL(38,0); parity is true by
    * construction in a batch replay). Generated by loop so the 9 cum
    * columns and 8 terms cannot drift between engines. */
  private lazy val wassersteinStreamSql: String = {
    val eCases = (1 to 9).map(k =>
      s"max(CASE WHEN rn = (${k * 10}*n+99)//100 THEN v END) AS e$k")
      .mkString(",\n                    ")
    val binExpr = (1 to 9).map(k => s"(CASE WHEN v > e$k THEN 1 ELSE 0 END)")
      .mkString("\n                          + ")
    val refCums = (0 to 8).map(i =>
      s"sum(CASE WHEN bin <= $i THEN 1 ELSE 0 END) AS r$i")
      .mkString(",\n                      ")
    val curCums = (0 to 8).map(i =>
      s"sum(CASE WHEN bin <= $i THEN 1 ELSE 0 END) AS c$i")
      .mkString(",\n                      ")
    val terms = (0 to 7).map(i =>
      s"CAST(abs(CAST(c$i AS HUGEINT) * n_ref - CAST(r$i AS HUGEINT) * n_events) AS DOUBLE) * (e${i + 2} - e${i + 1})")
      .mkString("\n                 + ")
    s"""WITH v AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                          CAST(value AS DOUBLE) AS v
                   FROM events WHERE value IS NOT NULL),
             r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn, count(*) OVER () AS n FROM v),
             e AS (SELECT $eCases
                   FROM r),
             bb AS (SELECT bucket, $binExpr AS bin
                    FROM v, e),
             ref AS (SELECT $refCums,
                      count(*) AS n_ref FROM bb),
             cur AS (SELECT bucket, $curCums,
                      count(*) AS n_events FROM bb GROUP BY bucket)
        SELECT bucket, CAST(n_events AS BIGINT) AS n_events,
               round(($terms)
                     / CAST(CAST(n_ref AS HUGEINT) * n_events AS DOUBLE), 6) AS w1,
               true AS parity_ok
        FROM cur, ref, e ORDER BY bucket"""
  }

  /** Day-windowed streaming twin of [[bootstrapCiSql]] — the grouped
    * chain keyed by the tumbling-day bucket (Spark's epoch-aligned
    * 1-day window start == date_trunc('day') for UTC timestamps, the
    * q_events_tumbling convention); replays the streamed state's fold
    * exactly because the per-(window, replicate) decimal sums are
    * order-independent. */
  private lazy val eventsBootstrapStreamSql: String = {
    val w = graft.operators.Bootstrap.PoissonCutoffs
      .map(c => s"(CASE WHEN u >= $c THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH b AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS g, event_id AS k,
                          CAST(value AS DECIMAL(18,2)) AS v
                   FROM events WHERE value IS NOT NULL),
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
       SELECT t.g AS bucket, n, mean,
              ms.ms[CAST((len(ms.ms) * 25 + 999) // 1000 AS INT)] AS ci_lo,
              ms.ms[CAST((len(ms.ms) * 975 + 999) // 1000 AS INT)] AS ci_hi
       FROM t JOIN ms ON t.g = ms.g
       ORDER BY 1"""
  }

  private val intervalJoinSql: String =
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
       FROM (SELECT * FROM events WHERE event_type = 'click') c
       JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
         ON c.user_id = p.user_id AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
       ORDER BY click_id, purchase_id"""

  private val jsonExtractSql: String =
    """SELECT event_type, CAST(CAST(json_extract_string(props, '$.k') AS INT) % 10 AS INT) AS k_mod,
              count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
       FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  private val likeSearchSql: String =
    """SELECT p_partkey, p_name, CAST(levenshtein(p_name, 'blue bolt') AS INT) AS dist
       FROM part WHERE p_name LIKE '%bolt%' ORDER BY dist, p_partkey"""

  val all: Seq[Query] = Seq(
    Query("q_events_tumbling", Batch, (s, d) =>
      EventStreams.tumblingCounts(Tables.events(s, d))
        .orderBy(col("bucket"), col("event_type")),
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket, event_type, count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),

    Query("q_events_sliding", Batch, (s, d) =>
      EventStreams.slidingCounts(Tables.events(s, d)).orderBy(col("bucket")),
      """SELECT CAST(time_bucket(INTERVAL '15 minutes', ts) - k.k * INTERVAL '15 minutes' AS TIMESTAMP) AS bucket,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) k(k)
         GROUP BY 1 ORDER BY 1"""),

    // Same aggregation, but executed through Structured Streaming end-to-end
    // (readStream → watermark → stateful window agg → memory sink) — shares
    // the batch twin's oracle, which is exactly the parity Spark guarantees.
    Query("q_events_tumbling_stream", Stream, (s, d) =>
      EventStreams.runStreamToBatch(s, d, "q_events_tumbling_stream_sink",
          EventStreams.tumblingCounts(_))
        .orderBy(col("bucket"), col("event_type")),
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket, event_type, count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),

    // STREAMING retention via theta set algebra: per-day distinct-user
    // sketches maintained as streaming-aggregation state, then
    // day-over-day RETURNING-user estimates from sketch INTERSECTIONS —
    // the set operation HLL (and the DAU/WAU rollups) fundamentally can't
    // do, and the one that otherwise costs a (day, user) distinct
    // self-join over history. Adjacent days pair via lead() over the
    // calendar-bounded sketch table (the one-pass q_theta_overlap shape).
    // Determinism: exact twins + the sketch's own 3σ bound booleans,
    // which collapse in exact mode (daily actives ≪ k=16384 at both
    // verify SFs; `est_mode` pinned false fails loudly on scale growth).
    Query("q_events_theta_retention", Stream, (s, d) => {
      import graft.functions.Theta._
      import org.apache.spark.sql.expressions.Window
      val sk = EventStreams.runStreamToBatch(s, d, "q_events_theta_retention_sink",
        EventStreams.dailyUserSketches(_))
      val wNext = Window.orderBy(col("day"))
      val skPairs = sk
        .withColumn("day_b", lead(col("day"), 1).over(wNext))
        .withColumn("sk_b", lead(col("sk"), 1).over(wNext))
        .filter(col("sk_b").isNotNull)
      // exact twin: distinct (day, user) sets, day-adjacent equi-join
      val du = Tables.events(s, d)
        .select(date_trunc("day", col("ts")).as("day"), col("user_id")).distinct()
      val nBy = du.groupBy("day").agg(count(lit(1)).as("n_users"))
      val ovl = du.join(
          du.select((col("day") - expr("INTERVAL 1 DAY")).as("day"), col("user_id")),
          Seq("day", "user_id"))
        .groupBy("day").agg(count(lit(1)).as("returning_exact"))
      val inter = thetaIntersect(col("sk"), col("sk_b"))
      skPairs
        .join(nBy, "day")
        .join(nBy.select((col("day") - expr("INTERVAL 1 DAY")).as("day"),
          col("n_users").as("n_users_next")), "day")
        .join(ovl, Seq("day"), "left")
        .withColumn("returning_exact", coalesce(col("returning_exact"), lit(0L)))
        .select(col("day"), col("n_users"), col("n_users_next"),
          col("returning_exact"),
          round(col("returning_exact").cast("double") / col("n_users"), 6)
            .as("retention"),
          col("returning_exact").cast("double")
            .between(thetaLb(inter, 3), thetaUb(inter, 3)).as("overlap_ok"),
          (thetaIsEstimation(col("sk")) || thetaIsEstimation(col("sk_b")))
            .as("est_mode"))
        .orderBy(col("day"))
    },
      // exact returning-user twins via the distinct (day, user) adjacent-day
      // join; bound/exact-mode booleans pinned (sketches exact at verify SF)
      """WITH du AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
                     FROM events),
              n AS (SELECT day, count(*) AS n_users FROM du GROUP BY 1),
              ov AS (SELECT a.day, count(*) AS returning_exact
                     FROM du a JOIN du b ON b.user_id = a.user_id
                      AND b.day = a.day + INTERVAL 1 DAY
                     GROUP BY 1)
         SELECT na.day, na.n_users, nb.n_users AS n_users_next,
                coalesce(ov.returning_exact, 0) AS returning_exact,
                round(CAST(coalesce(ov.returning_exact, 0) AS DOUBLE) / na.n_users, 6) AS retention,
                true AS overlap_ok, false AS est_mode
         FROM n na JOIN n nb ON nb.day = na.day + INTERVAL 1 DAY
         LEFT JOIN ov ON ov.day = na.day
         ORDER BY na.day"""),

    // STREAMING percentiles: a KLL sketch as streaming-aggregation state —
    // per-hour value quantiles maintained incrementally in the state store
    // (few KB per window however many events), where the batch alternative
    // re-ranks every window per refresh. KLL compaction is randomized, so
    // the contract surfaces the q_kll_quantiles discipline: exact discrete
    // quantile twins (rank math over (value, event_id)), the exact stream
    // length through the state-store round-trips (n_ok — lossless
    // serialize/merge proof), and ±5-rank-pct bound booleans
    // (deterministically true: per-hour n ≪ k=200 keeps the sketch exact
    // at both verify SFs, and the margin is ~3× the sketch's error
    // beyond).
    Query("q_events_kll_stream", Stream, (s, d) => {
      import graft.functions.Kll._
      import org.apache.spark.sql.expressions.Window
      val streamed = EventStreams.runStreamToBatch(s, d, "q_events_kll_stream_sink",
        EventStreams.windowQuantileSketches(_))
      // exact twin: discrete quantiles at integer-math ranks per bucket
      // (bucket count is calendar-bounded — ~720 one-hour windows per
      // month — so the per-bucket windows are many and small)
      val w = Window.partitionBy(col("bucket")).orderBy(col("value"), col("event_id"))
      val wn = Window.partitionBy(col("bucket"))
      def r(p: Int) = expr(s"($p * __n + 99) div 100")
      def rlo(p: Int) = greatest(r(p), lit(1L))
      def rhi(p: Int) = least(r(p), col("__n"))
      def at(rank: Column) = max(when(col("__rn") === rank, col("value")))
      val exact = Tables.events(s, d)
        .select(date_trunc("hour", col("ts")).as("bucket"), col("value"), col("event_id"))
        .withColumn("__rn", row_number().over(w).cast("long"))
        .withColumn("__n", count(lit(1)).over(wn))
        .groupBy(col("bucket")).agg(
          at(r(50)).as("p50_exact"), at(rlo(45)).as("__p50_lo"), at(rhi(55)).as("__p50_hi"),
          at(r(90)).as("p90_exact"), at(rlo(85)).as("__p90_lo"), at(rhi(95)).as("__p90_hi"))
      streamed.join(exact, "bucket")
        .select(col("bucket"), col("n_events"),
          col("p50_exact"), col("p90_exact"),
          (kllN(col("sk")) === col("n_events")).as("n_ok"),
          kllQuantile(col("sk"), lit(0.5))
            .between(col("__p50_lo"), col("__p50_hi")).as("p50_ok"),
          kllQuantile(col("sk"), lit(0.9))
            .between(col("__p90_lo"), col("__p90_hi")).as("p90_ok"))
        .orderBy(col("bucket"))
    },
      // exact discrete-quantile twins per hour bucket (same integer rank
      // math as q_kll_quantiles) + pinned sketch-guarantee booleans
      """WITH r AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket, value,
                           row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                              ORDER BY value, event_id) AS rn,
                           count(*) OVER (PARTITION BY date_trunc('hour', ts)) AS n
                    FROM events)
         SELECT bucket, max(n) AS n_events,
                max(CASE WHEN rn = (50*n + 99) // 100 THEN value END) AS p50_exact,
                max(CASE WHEN rn = (90*n + 99) // 100 THEN value END) AS p90_exact,
                true AS n_ok, true AS p50_ok, true AS p90_ok
         FROM r GROUP BY bucket ORDER BY bucket"""),

    // STREAMING heavy hitters: frequent-items (Misra–Gries) sketches as
    // streaming-aggregation state — completes the sketch-as-state triad
    // (KLL quantiles, theta distinct/set-algebra, frequency). The retained
    // sub-threshold map is merge-order dependent, so the contract surfaces
    // only deterministic columns (q_freq_sketch's discipline): exact twin
    // values and guarantee booleans the library PROVES always-true —
    // lossless stream length through state-store round-trips (n_ok),
    // exact-mode fidelity for the k=32 type sketch (type cardinality ≪
    // capacity), and for the deliberately undersized k=8 user sketch the
    // NO_FALSE_NEGATIVES promise, bound containment, and the a-priori
    // ε·n error cap.
    Query("q_events_freq_stream", Stream, (s, d) => {
      import graft.functions.Freq._
      val streamed = EventStreams.runStreamToBatch(s, d, "q_events_freq_stream_sink",
        EventStreams.windowFreqSketches(_))
      val ev = Tables.events(s, d).select(
        date_trunc("hour", col("ts")).as("bucket"),
        col("event_type"), col("user_id").cast("string").as("user"))
      val cntT = ev.groupBy("bucket", "event_type").agg(count(lit(1)).as("c"))
      val cntU = ev.groupBy("bucket", "user").agg(count(lit(1)).as("cu"))
      val itT = streamed
        .select(col("bucket"), explode(freqItems(col("sk_type"))).as("it"))
        .select(col("bucket"), col("it.item").as("event_type"),
          col("it.est").as("est"), col("it.lb").as("lb"), col("it.ub").as("ub"))
      val itU = streamed
        .select(col("bucket"), explode(freqItems(col("sk_user"))).as("it"))
        .select(col("bucket"), col("it.item").as("user"),
          col("it.est").as("estu"), col("it.lb").as("lbu"), col("it.ub").as("ubu"))
      val tSide = cntT.join(itT, Seq("bucket", "event_type"), "left")
        .groupBy("bucket").agg(
          count(lit(1)).as("n_types"),
          max("c").as("top_type_count"),
          // exact mode: every type retained, exact est, collapsed bounds
          (count(when(col("est").isNull || col("est") =!= col("c")
            || col("lb") =!= col("c") || col("ub") =!= col("c"), 1)) === 0)
            .as("exact_types_ok"))
      val uSide = cntU.join(itU, Seq("bucket", "user"), "left")
        .join(streamed.select(col("bucket"),
          freqMaxError(col("sk_user")).as("err")), "bucket")
        .groupBy("bucket").agg(
          count(lit(1)).as("n_users"),
          // NO_FALSE_NEGATIVES: nothing above the sketch's own maxError missing
          (count(when(col("cu") > col("err") && col("estu").isNull, 1)) === 0)
            .as("nfn_ok"),
          // every returned estimation-mode item brackets the exact count
          (count(when(col("estu").isNotNull &&
            !(col("lbu") <= col("cu") && col("cu") <= col("ubu")
              && col("estu").between(col("lbu"), col("ubu"))), 1)) === 0)
            .as("bounds_ok"),
          // a-priori error cap: maxError ≤ ε·n with ε = 3.5/maxMapSize
          (max(col("err")).cast("double") <= sum("cu") * 3.5 / 8.0).as("err_ok"))
      streamed
        .select(col("bucket"), col("n_events"),
          // lossless merge through the state store: both sketches saw
          // exactly the window's event count
          (freqN(col("sk_type")) === col("n_events") &&
            freqN(col("sk_user")) === col("n_events")).as("n_ok"))
        .join(tSide, "bucket")
        .join(uSide, "bucket")
        .select(col("bucket"), col("n_events"), col("n_types"),
          col("top_type_count"), col("n_users"), col("n_ok"),
          col("exact_types_ok"), col("nfn_ok"), col("bounds_ok"), col("err_ok"))
        .orderBy(col("bucket"))
    },
      """WITH ev AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                            event_type, CAST(user_id AS VARCHAR) AS u
                     FROM events),
              t AS (SELECT bucket, event_type, count(*) AS c FROM ev GROUP BY 1, 2),
              uu AS (SELECT bucket, u, count(*) AS c FROM ev GROUP BY 1, 2)
         SELECT b.bucket, b.n_events, t2.n_types, t2.top_type_count, u2.n_users,
                true AS n_ok, true AS exact_types_ok, true AS nfn_ok,
                true AS bounds_ok, true AS err_ok
         FROM (SELECT bucket, count(*) AS n_events FROM ev GROUP BY 1) b
         JOIN (SELECT bucket, count(*) AS n_types, max(c) AS top_type_count
               FROM t GROUP BY 1) t2 USING (bucket)
         JOIN (SELECT bucket, count(*) AS n_users FROM uu GROUP BY 1) u2 USING (bucket)
         ORDER BY bucket"""),

    // STREAMING drift monitor: every hourly window's value distribution
    // scored (PSI) against a FROZEN reference profile — the reference's
    // decile edges are computed offline (distributed histogram selection,
    // 9 values collected) and baked into the stream as a map-side binning
    // expression, so the state store holds ≤ 10 bin counts per window and
    // the stream never recomputes quantiles. The PSI fold runs batch-side
    // over the windowed counts, in sorted bin order — fully deterministic,
    // so the oracle replays the whole thing exactly (no booleans needed).
    // STREAMING windowed error bars: "today's average event value is
    // X ± Y", maintained as the day streams in — per-(window, replicate)
    // Poisson-weighted decimal sums are the streaming-aggregation state
    // (≤ 65 rows per window however many events flow; weights are a pure
    // function of the event id, so the state is mergeable and micro-
    // batch-slicing-invariant), and the CI fold runs batch-side over the
    // windowed sums. Fully deterministic — the oracle replays the whole
    // chain (the day-keyed grouped form of the bootstrapCiSql twin).
    Query("q_events_bootstrap_stream", Stream, (s, d) => {
      val sums = EventStreams.runStreamToBatch(s, d, "q_events_bootstrap_stream_sink",
        EventStreams.windowBootstrapSums(_))
        .toDF("bucket", "n", "sum_v", "reps")
      val ms = sums
        .select(col("bucket"), explode(col("reps")).as("r"))
        .select(col("bucket"), when(col("r.wt") > 0,
          round(col("r.vw").cast("double") / col("r.wt"), 6)).as("m"))
        .groupBy(col("bucket")).agg(array_sort(collect_list(col("m"))).as("ms"))
      val r = size(col("ms"))
      val lo = ((r * 25 + lit(999)) / lit(1000)).cast("int")
      val hi = ((r * 975 + lit(999)) / lit(1000)).cast("int")
      sums
        .select(col("bucket"), col("n"),
          round(col("sum_v").cast("double") / col("n"), 6).as("mean"))
        .join(ms, "bucket")
        .select(col("bucket"), col("n"), col("mean"),
          when(r > 0, element_at(col("ms"), lo)).as("ci_lo"),
          when(r > 0, element_at(col("ms"), hi)).as("ci_hi"))
        .orderBy(col("bucket"))
    },
      eventsBootstrapStreamSql),

    Query("q_events_psi_stream", Stream, (s, d) => {
      val ev = Tables.events(s, d)
      val edges = graft.operators.Robust.quantileEdges(ev, col("value"), 10)
      val counts = EventStreams.runStreamToBatch(s, d, "q_events_psi_stream_sink",
        EventStreams.windowPsiCounts(_, edges))
      val bin = edges.map(e => when(col("value") > lit(e), 1).otherwise(0)).reduce(_ + _)
      val ref = ev.filter(col("value").isNotNull)
        .select(bin.as("bin")).groupBy("bin").agg(count(lit(1)).as("cr"))
      // toDF re-aliases with fresh expression ids — the bucket domain and
      // the counts join are two references to the same memory-sink view
      val dom = counts.toDF("bucket", "bin", "cnt").select(col("bucket")).distinct()
        .select(col("bucket"), explode(sequence(lit(0), lit(9))).as("bin"))
      val full = dom
        .join(broadcast(ref), Seq("bin"), "left")
        .join(counts, Seq("bucket", "bin"), "left")
        .select(col("bucket"), col("bin"),
          coalesce(col("cr"), lit(0L)).as("cr"),
          coalesce(col("cnt"), lit(0L)).as("cc"))
      val tot = ref.agg(sum(col("cr")).as("n_ref"))
      val one = full.groupBy("bucket").agg(
        array_sort(collect_list(struct(col("bin"), col("cr"), col("cc")))).as("bs"),
        sum(col("cc")).as("n_events"))
      val nR = col("n_ref").cast("double")
      val nC = col("n_events").cast("double")
      val half = lit(0.5)
      val psi = aggregate(col("bs"), lit(0.0), (acc, b) => {
        val p = (b.getField("cr").cast("double") + half) / (nR + half * 10)
        val q = (b.getField("cc").cast("double") + half) / (nC + half * 10)
        acc + (p - q) * log(p / q)
      })
      one.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_events"), round(psi, 6).as("psi"))
        .orderBy(col("bucket"))
    },
      // Same rank rule for the reference deciles, same smoothed proportions
      // and sorted-bin fold as q_psi_drift, per hourly bucket.
      """WITH v AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                           CAST(value AS DOUBLE) AS v
                    FROM events WHERE value IS NOT NULL),
              r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn, count(*) OVER () AS n FROM v),
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
              bb AS (SELECT bucket,
                            (CASE WHEN v > e1 THEN 1 ELSE 0 END) + (CASE WHEN v > e2 THEN 1 ELSE 0 END)
                          + (CASE WHEN v > e3 THEN 1 ELSE 0 END) + (CASE WHEN v > e4 THEN 1 ELSE 0 END)
                          + (CASE WHEN v > e5 THEN 1 ELSE 0 END) + (CASE WHEN v > e6 THEN 1 ELSE 0 END)
                          + (CASE WHEN v > e7 THEN 1 ELSE 0 END) + (CASE WHEN v > e8 THEN 1 ELSE 0 END)
                          + (CASE WHEN v > e9 THEN 1 ELSE 0 END) AS bin
                     FROM v, e),
              rb AS (SELECT bin, count(*) AS cr FROM bb GROUP BY 1),
              cur AS (SELECT bucket, bin, count(*) AS cc FROM bb GROUP BY 1, 2),
              dom AS (SELECT d.bucket, gs.g AS bin
                      FROM (SELECT DISTINCT bucket FROM bb) d, generate_series(0, 9) gs(g)),
              f AS (SELECT dom.bucket, dom.bin, coalesce(rb.cr, 0) AS cr, coalesce(cur.cc, 0) AS cc
                    FROM dom LEFT JOIN rb ON rb.bin = dom.bin
                             LEFT JOIN cur ON cur.bucket = dom.bucket AND cur.bin = dom.bin),
              one AS (SELECT bucket, list_sort(list({'bin': bin, 'cr': cr, 'cc': cc})) AS bs,
                             CAST(sum(cc) AS BIGINT) AS n_events
                      FROM f GROUP BY bucket),
              tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_ref FROM v)
         SELECT bucket, n_events,
                round(list_sum(list_transform(bs, b ->
                  ((CAST(b.cr AS DOUBLE) + 0.5) / (n_ref + 5.0)
                   - (CAST(b.cc AS DOUBLE) + 0.5) / (CAST(n_events AS DOUBLE) + 5.0))
                  * ln(((CAST(b.cr AS DOUBLE) + 0.5) / (n_ref + 5.0))
                       / ((CAST(b.cc AS DOUBLE) + 0.5) / (CAST(n_events AS DOUBLE) + 5.0))))), 6) AS psi
         FROM one, tot ORDER BY bucket"""),

    // Streaming Wasserstein-1 drift monitor — the drift family's MAGNITUDE
    // axis (q_wasserstein_drift) in monitor form, completing the monitor
    // conventions (PSI = binned divergence, Fréchet = moment distance,
    // W1 = mass × distance in value units). The streaming half IS the PSI
    // monitor's state (windowPsiCounts: per-(window, reference-bin)
    // integer counts — ≤ |bins| rows per window however many events flow;
    // one stream, two gates). Batch-side fold: on reference-binned ECDFs
    // the |F_ref − F_cur| gap is piecewise constant between edges, so
    // W1 = Σᵢ |cumCᵢ·n_ref − cumRᵢ·n_cur| · (eᵢ₊₁ − eᵢ) / (n_ref·n_cur)
    // EXACTLY, given the frozen edges — integer numerators in
    // DECIMAL(38,0) (the wassersteinDistance discipline), one double
    // multiply per edge term in a FIXED left-to-right chain the oracle
    // replays, one division at the end. parity_ok asserts the streamed
    // counts equal a batch recompute bit-for-bit (incremental ≡
    // recompute — the q_embed_drift_stream contract).
    Query("q_wasserstein_stream", Stream, (s, d) => {
      val ev = Tables.events(s, d)
      val edges = graft.operators.Robust.quantileEdges(ev, col("value"), 10)
      val counts = EventStreams.runStreamToBatch(s, d, "q_wasserstein_stream_sink",
        EventStreams.windowPsiCounts(_, edges)).toDF("bucket", "bin", "cnt")
      val bin = edges.map(e => when(col("value") > lit(e), 1).otherwise(0)).reduce(_ + _)
      val vv = ev.filter(col("value").isNotNull)
      // batch twin of the streamed per-(window, bin) state — the parity gate
      val twin = vv
        .select(date_trunc("hour", col("ts")).as("bucket"), bin.as("bin"))
        .groupBy("bucket", "bin").agg(count(lit(1)).as("cb"))
      val parity = counts.join(twin, Seq("bucket", "bin"), "full_outer")
        .agg(coalesce(bool_and(
          coalesce(col("cnt"), lit(-1L)) === coalesce(col("cb"), lit(-1L))),
          lit(false)).as("parity_ok"))
      // frozen reference profile: the whole corpus at the same edges
      val refAggs = edges.indices.map(i =>
        sum(when(col("bin") <= i, col("cr")).otherwise(0L)).as(s"r$i")) :+
        sum(col("cr")).as("n_ref")
      val refRow = vv.select(bin.as("bin")).groupBy("bin").agg(count(lit(1)).as("cr"))
        .agg(refAggs.head, refAggs.tail: _*)
      val curAggs = edges.indices.map(i =>
        sum(when(col("bin") <= i, col("cnt")).otherwise(0L)).as(s"c$i")) :+
        sum(col("cnt")).as("n_events")
      val cur = counts.groupBy("bucket").agg(curAggs.head, curAggs.tail: _*)
      val dec38 = "decimal(38,0)"
      val num = (0 until edges.length - 1).map { i =>
        abs(col(s"c$i").cast(dec38) * col("n_ref") -
            col(s"r$i").cast(dec38) * col("n_events")).cast("double") *
          lit(edges(i + 1) - edges(i))
      }.reduce(_ + _)
      cur.crossJoin(broadcast(refRow)).crossJoin(broadcast(parity))
        .select(col("bucket"), col("n_events"),
          round(num / (col("n_ref").cast(dec38) * col("n_events")).cast("double"), 6)
            .as("w1"),
          col("parity_ok"))
        .orderBy(col("bucket"))
    },
      wassersteinStreamSql),

    // Streaming CUSUM changepoint monitor: the stream maintains per-day
    // (n, exact-decimal Σ) state — ONE row per day however many events
    // flow — and the D-scaled argmax fold runs batch-side over the
    // calendar-bounded sink through the SAME TimeSeries.cusumChangepoint
    // the batch gate uses (parity by construction). Answers "did the
    // daily value level STEP, and on which day?" as the stream runs.
    Query("q_events_cusum_stream", Stream, (s, d) => {
      val sums = EventStreams.runStreamToBatch(s, d, "q_events_cusum_stream_sink",
        EventStreams.windowDailyMoneySums(_))
        .toDF("bucket", "n", "rev")
      graft.operators.TimeSeries.cusumChangepoint(sums, col("bucket"), col("rev"))
    },
      // Streaming twin of the CUSUM recipe over events.value: the oracle
      // replays the whole chain from the raw table — per-day decimal sums,
      // D-scaled HUGEINT statistic, argmax pick (micro-batch slicing
      // cannot change a per-day sum, so stream and batch agree exactly).
      """WITH s AS (SELECT CAST(ts AS DATE) AS d,
                           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM events WHERE value IS NOT NULL GROUP BY 1),
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

    // Streaming day-of-week anomaly monitor: the same one-(n, Σ)-row-per-
    // day streaming state as the CUSUM monitor, with the seasonal-profile
    // gate run batch-side over the sink — parity by construction (the
    // decimal day sums are order-independent across micro-batches).
    Query("q_events_dow_stream", Stream, (s, d) => {
      val sums = EventStreams.runStreamToBatch(s, d, "q_events_dow_stream_sink",
        EventStreams.windowDailyMoneySums(_))
        .toDF("bucket", "n", "rev")
      graft.operators.TimeSeries.dowBandAnomaly(sums, col("bucket"), col("rev"))
    },
      // The dow gate replayed from raw events — the oracle recomputes the
      // day sums independently, so stream-state correctness is hash-checked.
      """WITH s AS (SELECT CAST(ts AS DATE) AS d,
                           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM events WHERE value IS NOT NULL GROUP BY 1),
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

    // Streaming runs-test monitor — the distribution-free randomness gate
    // over the same streamed day sums (the day-sums-sink pattern: any
    // batch gate over the per-day table gets a streaming form for free).
    Query("q_events_runs_stream", Stream, (s, d) => {
      val sums = EventStreams.runStreamToBatch(s, d, "q_events_runs_stream_sink",
        EventStreams.windowDailyMoneySums(_))
        .toDF("bucket", "n", "rev")
      graft.operators.TimeSeries.runsTest(sums, col("bucket"), col("rev"))
    },
      // The runs gate replayed from raw events (independent day-sum
      // recompute — the streamed state is hash-checked).
      """WITH s AS (SELECT CAST(ts AS DATE) AS d,
                           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
                    FROM events WHERE value IS NOT NULL GROUP BY 1),
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

    // Stream-static enrichment: streaming events broadcast-joined to a
    // static category dim, then daily windowed aggregation — the in-flight
    // reference-data join (dim re-resolved per micro-batch, no join state).
    Query("q_events_enrich_stream", Stream, (s, d) =>
      EventStreams.runStreamStaticEnrich(s, d, "q_events_enrich_stream_sink")
        .orderBy(col("bucket"), col("category")),
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
                CASE event_type
                  WHEN 'view' THEN 'engagement' WHEN 'click' THEN 'engagement'
                  WHEN 'purchase' THEN 'conversion' WHEN 'signup' THEN 'conversion'
                  ELSE 'ops' END AS category,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),

    Query("q_events_session", Batch, (s, d) =>
      EventStreams.sessionCounts(Tables.events(s, d))
        .orderBy(col("user_id"), col("session_start")),
      """WITH flagged AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sess AS (
           SELECT user_id, ts, value,
                  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
           FROM flagged)
         SELECT CAST(min(ts) AS TIMESTAMP) AS session_start,
                CAST(max(ts) + INTERVAL '30 minutes' AS TIMESTAMP) AS session_end,
                user_id, count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start"""),

    // Custom-state sessionization through the real flatMapGroupsWithState
    // stream (rows-only: open sessions at end-of-source stay in state).
    // Custom flatMapGroupsWithState sessionizer run as a REAL stream,
    // SELF-ASSERTING against the batch session_window twin: every session
    // the stream CLOSED (emitted) must appear in the batch sessionization
    // with identical bounds/counts (sessions still open when the source
    // drains stay in state by design, so subset-match is the correct
    // relation). Emits (has_closed_sessions, all_match) booleans.
    Query("q_events_session_stateful", Stream, (s, d) => {
      val streamed = EventStreams.runStreamSessionize(s, d, "q_events_session_stateful_sink")
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events").cast("long").as("s_n"), col("value_sum").as("s_sum"))
      val batch = EventStreams.sessionCounts(Tables.events(s, d), "30 minutes")
      streamed
        .join(batch, Seq("user_id", "session_start", "session_end"), "left")
        .agg(
          (count(lit(1)) > 0).as("has_closed_sessions"),
          (sum(when(col("n_events").isNotNull && col("n_events") === col("s_n") &&
            abs(col("value_sum") - col("s_sum")) < 0.001, 0L).otherwise(1L)) === 0L)
            .as("all_match"))
    },
      // the stateful sessionizer self-asserts (closed sessions ⊆ batch
      // session_window twin, checked in-plan); the oracle is the literal
      // expected booleans
      "SELECT true AS has_closed_sessions, true AS all_match"),

    // Interval join, batch twin (oracle) + real stream-stream execution
    // (two watermarked streams, state bounded by the time-range condition).
    Query("q_events_interval_join", Batch, (s, d) => {
      val ev = Tables.events(s, d)
      EventStreams.intervalJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
        .orderBy(col("click_id"), col("purchase_id"))
    },
      intervalJoinSql),

    Query("q_events_interval_join_stream", Stream, (s, d) =>
      EventStreams.runStreamJoin(s, d, "q_events_interval_join_stream_sink")
        .orderBy(col("click_id"), col("purchase_id")),
      intervalJoinSql),

    // Streaming exact dedup of a doubled stream; the sink holds one row per
    // event_id, aggregated here batch-side for a compact oracle-checked
    // result.
    // Watermark-gated LEFT OUTER stream-stream join: unmatched clicks get
    // their null row only once the watermark proves no purchase can still
    // arrive; the click side is cut off at max_ts − (window + delay) so
    // every admitted click resolves before the source drains (see
    // runStreamLeftJoin; the extra 1 s covers the watermark's ms
    // truncation). Null purchase_id sorts via a -1 sentinel key.
    Query("q_events_interval_join_left_stream", Stream, (s, d) => {
      val b = Tables.events(s, d).agg(
        max(when(col("event_type") === "click", col("ts"))).as("mc"),
        max(when(col("event_type") === "purchase", col("ts"))).as("mp")).head()
      val bound =
        if (b.getTimestamp(0).before(b.getTimestamp(1))) b.getTimestamp(0) else b.getTimestamp(1)
      val cutoff = java.sql.Timestamp.from(bound.toInstant.minusSeconds(20 * 60 + 1))
      EventStreams.runStreamLeftJoin(s, d, "q_events_interval_join_left_stream_sink", cutoff)
        .orderBy(col("click_id"), coalesce(col("purchase_id"), lit(-1L)))
    },
      """WITH mx AS (SELECT least(max(ts) FILTER (WHERE event_type = 'click'),
                                 max(ts) FILTER (WHERE event_type = 'purchase')) AS m
                     FROM events),
              c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
                    FROM events, mx WHERE event_type = 'click' AND ts < m - INTERVAL 20 MINUTE - INTERVAL 1 SECOND),
              p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
                    FROM events WHERE event_type = 'purchase')
         SELECT c.click_id, p.purchase_id, c.user_id
         FROM c LEFT JOIN p
           ON c.user_id = p.p_user AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 10 MINUTE
         ORDER BY click_id, coalesce(purchase_id, -1)"""),

    // FULL OUTER stream-stream interval join: both sides' unmatched rows
    // null-extend; both sides cut off at min(side max) − (window+delay)
    // so every admitted row resolves before the source drains. Null ids
    // sort via -1 sentinels.
    Query("q_events_interval_join_full_stream", Stream, (s, d) => {
      val b = Tables.events(s, d).agg(
        max(when(col("event_type") === "click", col("ts"))).as("mc"),
        max(when(col("event_type") === "purchase", col("ts"))).as("mp")).head()
      val bound =
        if (b.getTimestamp(0).before(b.getTimestamp(1))) b.getTimestamp(0) else b.getTimestamp(1)
      val cutoff = java.sql.Timestamp.from(bound.toInstant.minusSeconds(20 * 60 + 1))
      EventStreams.runStreamFullJoin(s, d, "q_events_interval_join_full_stream_sink", cutoff)
        .orderBy(coalesce(col("click_id"), lit(-1L)), coalesce(col("purchase_id"), lit(-1L)))
    },
      """WITH mx AS (SELECT least(max(ts) FILTER (WHERE event_type = 'click'),
                                 max(ts) FILTER (WHERE event_type = 'purchase')) AS m
                     FROM events),
              c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
                    FROM events, mx WHERE event_type = 'click' AND ts < m - INTERVAL 20 MINUTE - INTERVAL 1 SECOND),
              p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
                    FROM events, mx WHERE event_type = 'purchase' AND ts < m - INTERVAL 20 MINUTE - INTERVAL 1 SECOND)
         SELECT c.click_id, p.purchase_id, coalesce(c.user_id, p.p_user) AS user_id
         FROM c FULL OUTER JOIN p
           ON c.user_id = p.p_user AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 10 MINUTE
         ORDER BY coalesce(click_id, -1), coalesce(purchase_id, -1)"""),

    // Native session_window on the REAL stream path, flushed completely
    // via a close row — bit-equal to the batch sessionization, so the
    // SAME lag/cumsum SQL oracle checks the streaming engine's session
    // merging (q_events_session checks the batch path).
    Query("q_events_session_stream", Stream, (s, d) =>
      EventStreams.runStreamSessionWindow(s, d, "q_events_session_stream_sink")
        .orderBy(col("user_id"), col("session_start")),
      // The real streaming session_window path flushes to bit-equality with
      // batch sessionization — same oracle SQL as q_events_session.
      """WITH flagged AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sess AS (
           SELECT user_id, ts, value,
                  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
           FROM flagged)
         SELECT CAST(min(ts) AS TIMESTAMP) AS session_start,
                CAST(max(ts) + INTERVAL '30 minutes' AS TIMESTAMP) AS session_end,
                user_id, count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start"""),

    // Spark 4 arbitrary-state API (transformWithState + ValueState on
    // RocksDB): per-user running purchase ledger, state = one (count, sum)
    // pair per user. Oracle = the batch window cumsum in event-time order.
    Query("q_events_running_stream", Stream, (s, d) =>
      EventStreams.runStreamRunningTotals(s, d, "q_events_running_stream_sink")
        .select(col("event_id"), col("user_id"), col("seq"),
          round(col("running_value"), 6).as("running_value"))
        .orderBy(col("user_id"), col("seq")),
      """SELECT event_id, user_id,
                CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS seq,
                round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_value
         FROM events WHERE event_type = 'purchase'
         ORDER BY user_id, seq"""),

    // ListState variant: bounded recent-purchase history per user (last 3
    // ids, most recent last), serialized as CSV so the array compares
    // portably. Oracle = list() over a trailing row frame.
    Query("q_events_recent_stream", Stream, (s, d) =>
      EventStreams.runStreamRecentPurchases(s, d, "q_events_recent_stream_sink")
        .select(col("event_id"), col("user_id"),
          concat_ws(",", col("recent_ids")).as("recent_csv"))
        .orderBy(col("event_id")),
      """SELECT event_id, user_id,
                array_to_string(list(event_id) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), ',') AS recent_csv
         FROM events WHERE event_type = 'purchase'
         ORDER BY event_id"""),

    // MapState variant of the arbitrary-state API: per-user map of
    // event_type → count; output is each event's per-type sequence number.
    Query("q_events_profile_stream", Stream, (s, d) =>
      EventStreams.runStreamTypeProfile(s, d, "q_events_profile_stream_sink")
        .orderBy(col("event_id")),
      """SELECT event_id, user_id, event_type,
                CAST(row_number() OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS BIGINT) AS type_seq
         FROM events ORDER BY event_id"""),

    Query("q_events_dedup_stream", Stream, (s, d) =>
      EventStreams.runStreamDedup(s, d, "q_events_dedup_stream_sink")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("value_sum"))
        .orderBy(col("event_type")),
      // dedup of the doubled stream restores exactly the original events
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM events GROUP BY 1 ORDER BY 1"""),

    // CONTINUOUS near-dup ingestion — the streaming face of the
    // incremental MinHash path: documents replay as a batched file stream
    // and each micro-batch probes the persisted band index, emits its
    // verified pairs, and appends its banding rows + shingles (foreachBatch;
    // the accepted corpus is never rescanned). Every pair is examined when
    // its LATER doc arrives, so streamed pairs ≡ the whole-corpus operator
    // exactly — asserted in-plan (ids and jaccard values, both
    // directions); the oracle pins the doc count and both booleans.
    Query("q_dedup_ingest_stream", Stream, (s, d) =>
      graft.streaming.DedupIngest.runStreamDedupIngest(s, d),
      // streamed-ingest pairs ≡ whole-corpus MinHash operator asserted
      // in-plan; the oracle pins the corpus size and both booleans
      """SELECT count(*) AS n_docs, true AS pairs_nonempty, true AS match_full
         FROM documents""",
      // Contract form: streamed pairs ⋈ whole-corpus recompute (equality).
      // Operator: the batched ingest stream probing the persisted band index.
      benchPlan = Some((s, d) =>
        graft.streaming.DedupIngest.runStreamDedupIngest(s, d, assertFull = false))),

    // CONTINUOUS SCD Type 2 maintenance — the streaming face of q_scd2:
    // status snapshots replay as a date-striped batched file stream and
    // each micro-batch merges into the at-rest versioned dimension
    // incrementally (only the batch's keys are touched; only their OPEN
    // version can close; closed history is immutable and never rewritten).
    // Stream-merge ≡ one-shot scdType2 over the whole input exactly,
    // whatever the batch split — asserted row-for-row in-plan; the oracle
    // pins key cardinality and both booleans.
    Query("q_scd2_ingest_stream", Stream, (s, d) =>
      graft.streaming.ScdIngest.runStreamScdIngest(s, d),
      // streamed SCD2 dimension ≡ whole-input scdType2 asserted row-for-row
      // in-plan; the oracle pins key cardinality and both booleans
      """SELECT count(DISTINCT o_custkey) AS n_keys,
                true AS versions_nonempty, true AS parity_ok
         FROM orders""",
      // Contract form: streamed dimension ⋈ whole-input scdType2 (parity).
      // Operator: the batched incremental merge stream alone.
      benchPlan = Some((s, d) =>
        graft.streaming.ScdIngest.runStreamScdIngest(s, d, assertFull = false))),

    // Semi-structured: extract a field from the JSON props column and
    // aggregate on it (get_json_object stays codegen'd; no UDF).
    Query("q_json_extract", Batch, (s, d) =>
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"), (col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("value_sum"))
        .orderBy(col("event_type"), col("k_mod")),
      jsonExtractSql),

    // As-of join (operator Spark lacks; composed union+window — SURVEY
    // custom-operator ladder (a)): for each purchase, the user's most
    // recent click at or before it. Oracle is DuckDB's native ASOF JOIN.
    Query("q_asof_join", Batch, (s, d) =>
      graft.operators.AsOfJoin.eventsAsOf(Tables.events(s, d), "purchase", "click"),
      """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS left_ts,
                CAST(c.ts AS TIMESTAMP) AS last_right_ts,
                date_diff('microsecond', c.ts, p.ts) AS gap_us
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND c.ts <= p.ts
         ORDER BY p.event_id"""),

    // FORWARD as-of (time-to-next-purchase per click), verified against
    // DuckDB's native ASOF JOIN with the >= inequality — an independent
    // engine implementation, not a window twin.
    Query("q_asof_forward", Batch, (s, d) =>
      graft.operators.AsOfJoin.eventsAsOfForward(Tables.events(s, d), "click", "purchase"),
      """SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS left_ts,
                CAST(p.ts AS TIMESTAMP) AS next_right_ts,
                date_diff('microsecond', c.ts, p.ts) AS gap_us
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id AND p.ts >= c.ts
         ORDER BY c.event_id"""),

    // Keyed range join via bucketized equi-join (no nested-loop range
    // product): clicks within 5 minutes before each error, per user.
    Query("q_range_join", Batch, (s, d) =>
      graft.operators.RangeJoin.lookbackCount(
        Tables.events(s, d), "error", "click", windowMicros = 5L * 60 * 1000 * 1000),
      """SELECT e.event_id, e.user_id, count(c.ts) AS n_in_window
         FROM (SELECT * FROM events WHERE event_type = 'error') e
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON c.user_id = e.user_id AND c.ts <= e.ts
          AND c.ts > e.ts - INTERVAL '5 minutes'
         GROUP BY e.event_id, e.user_id
         ORDER BY e.event_id"""),

    // Gaps-and-islands: longest run of consecutive active days per user.
    // The island key is d − row_number (constant within a run) — two
    // window-free aggregations after one ranking window; no self-join, no
    // recursive scan.
    Query("q_longest_streak", Batch, (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
      Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
        .withColumn("grp", date_sub(col("d"), row_number().over(w)))
        .groupBy(col("user_id"), col("grp")).agg(count(lit(1)).as("len"))
        .groupBy(col("user_id")).agg(max(col("len")).cast("int").as("longest_streak"))
        .orderBy(col("user_id"))
    },
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
              g AS (SELECT user_id, d,
                           d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT) AS grp
                    FROM days),
              runs AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2)
         SELECT user_id, CAST(max(len) AS INT) AS longest_streak
         FROM runs GROUP BY 1 ORDER BY 1"""),

    // Time-series similarity search: most-correlated hourly activity
    // series among the top-k active users (candidate set bounded before
    // the pair join).
    Query("q_ts_similarity", Batch, (s, d) =>
      graft.operators.TimeSeries.correlatedActivity(Tables.events(s, d)),
      """WITH series AS (
           SELECT user_id, date_trunc('hour', ts) AS bucket, CAST(count(*) AS DOUBLE) AS n
           FROM events GROUP BY 1, 2),
         top AS (
           SELECT user_id FROM events GROUP BY 1 ORDER BY count(*) DESC, user_id LIMIT 20),
         s AS (SELECT series.* FROM series JOIN top USING (user_id))
         SELECT a.user_id AS user_a, b.user_id AS user_b, count(*) AS n_overlap,
                round(corr(a.n, b.n), 4) AS activity_corr
         FROM s a JOIN s b ON a.bucket = b.bucket AND a.user_id < b.user_id
         GROUP BY 1, 2 HAVING count(*) >= 24
         ORDER BY activity_corr DESC NULLS LAST, user_a, user_b LIMIT 25"""),

    // Text search (the reference's trigram-index intent,
    // `database-schema.sql:64` — no query ever used it; here it is):
    // LIKE filter + edit-distance ranking.
    Query("q_like_search", Batch, (s, d) =>
      Tables.part(s, d)
        .filter(col("p_name").like("%bolt%"))
        .select(col("p_partkey"), col("p_name"),
          levenshtein(col("p_name"), lit("blue bolt")).as("dist"))
        .orderBy(col("dist"), col("p_partkey")),
      likeSearchSql),

    // pg_trgm similarity proper: trigram-Jaccard fuzzy match against a
    // literal query string (constant-folded trigram set; no join), the
    // reference's GIN trigram index analog (`database-schema.sql:5,64`).
    // Native codegen Jaro–Winkler top-k: one scan, TakeOrderedAndProject —
    // the entity-resolution scorer next to the trigram search.
    Query("q_fuzzy_match", Batch, (s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"), col("p_name"),
          round(graft.functions.JaroWinklerImpl.jaroWinkler(
            col("p_name"), lit("spring green yellow purple cornsilk")), 6).as("sim"))
        .orderBy(col("sim").desc, col("p_partkey"))
        .limit(25),
      """SELECT p_partkey, p_name,
                round(jaro_winkler_similarity(p_name, 'spring green yellow purple cornsilk'), 6) AS sim
         FROM part ORDER BY sim DESC, p_partkey LIMIT 25"""),

    Query("q_trigram_search", Batch, (s, d) =>
      TextAnalysis.trigramSearch(Tables.part(s, d), "p_partkey", "p_name",
        query = "spring green yellow", minSim = 0.1, k = 10),
      """WITH q AS (
           SELECT list_distinct([lower('spring green yellow')[i:i+2]
                                 for i in range(1, greatest(len('spring green yellow')-1, 2))]) AS qt),
         p AS (
           SELECT p_partkey, p_name,
                  list_distinct([lower(p_name)[i:i+2]
                                 for i in range(1, greatest(len(p_name)-1, 2))]) AS pt
           FROM part),
         scored AS (
           SELECT p_partkey, p_name,
                  round(len(list_intersect(pt, qt)) * 1.0
                        / (len(pt) + len(qt) - len(list_intersect(pt, qt))), 6) AS sim
           FROM p, q)
         SELECT p_partkey, p_name, sim FROM scored
         WHERE sim >= 0.1 ORDER BY sim DESC, p_partkey LIMIT 10"""),

    // Regex extraction (codegen'd RE2-compatible pattern; no UDF).
    Query("q_regex_extract", Batch, (s, d) =>
      Tables.part(s, d)
        .groupBy(regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("first_word")),
      """SELECT regexp_extract(p_name, '^([a-z]+)', 1) AS first_word, count(*) AS n
         FROM part GROUP BY 1 ORDER BY 1"""),

    // Watermark late-data drop audit — the real three-micro-batch stream
    // (file source, maxFilesPerTrigger=1) vs a DuckDB replay of the
    // watermark CONTRACT: late rows survive iff their window was still
    // open when they arrived. See EventStreams.runStreamLateAudit.
    Query("q_events_late_drop", Stream, (s, d) =>
      graft.streaming.EventStreams.runStreamLateAudit(s, d, "graft_late_audit")
        .orderBy(col("w_start")),
      // Watermark contract replay, pinned to the EVICTION semantics the
      // engine actually implements (verified empirically): a late row is
      // dropped iff its window was already evicted — i.e. window end ≤ the
      // watermark IN FORCE during the eviction batch, which is
      // max(on-time ts strictly below the on-time max) − delay (the split
      // row rides batch 2 of the 4-batch schedule). Merely being older
      // than the current watermark does NOT drop a row whose state still
      // exists — the 3-batch variant of this schedule proved that. The
      // synthetic close row's own window never flushes, so the oracle
      // doesn't model it.
      """WITH ot AS (SELECT ts FROM events WHERE user_id % 17 <> 3),
              m1 AS (SELECT max(ts) AS mx FROM ot),
              wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM ot, m1 WHERE ts < m1.mx),
              keep AS (SELECT ts FROM ot
                       UNION ALL
                       SELECT e.ts FROM events e, wm
                       WHERE e.user_id % 17 = 3
                         AND date_trunc('hour', e.ts) + INTERVAL 1 HOUR > wm.w)
         SELECT date_trunc('hour', ts) AS w_start, count(*) AS n_events
         FROM keep GROUP BY 1 ORDER BY 1"""),
  )
}
