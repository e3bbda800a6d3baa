package graft
package contract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.sources.Tables
import Query.Batch
import Common._

/** Approximate aggregates: HLL, KLL, theta, frequent-items and
  * count-min sketches, bounded top-k and skew profiles. */
private[contract] object SketchQueries {

  val all: Seq[Query] = Seq(
    // Grouped top-k via the native bounded-heap aggregate ([[TopKBy]]):
    // ONE agg pass with map-side partial merge — the shuffle carries at
    // most k entries per (group, task) instead of every row, and no
    // per-group sort ever runs. Oracle = the window row_number form (the
    // shape this replaces at scale).
    Query("q_topk_agg", Batch, (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(graft.functions.TopKBy.topKBy(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(
          col("o_custkey"),
          (col("pos") + 1).cast("int").as("rn"),
          col("t.score").as("o_totalprice"),
          col("t.id").as("o_orderkey"))
        .orderBy(col("o_custkey"), col("rn")),
      """SELECT o_custkey, CAST(rn AS INT) AS rn, o_totalprice, o_orderkey
         FROM (SELECT o_custkey, o_totalprice, o_orderkey,
                      row_number() OVER (PARTITION BY o_custkey
                                         ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn"""),

    // Mergeable HLL sketches (DataSketches): per-source term sketches
    // union-merged to the corpus-wide distinct estimate — THE distributed
    // distinct-counting pattern at 100 TB (sketches are tiny, associative,
    // and persistable; re-aggregation needs no raw-data rescan).
    // Self-asserting: per-source and union estimates vs their exact twins.
    Query("q_hll_merge", Batch, (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("term"))
      val perSource = tok.groupBy(col("source")).agg(
        expr("hll_sketch_agg(term)").as("sk"),
        countDistinct(col("term")).as("exact_terms"))
      val exactUnion = tok.agg(countDistinct(col("term")).as("exact_union"))
      perSource.agg(
        count(lit(1)).as("n_sources"),
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_union"),
        expr("bool_and(abs(cast(hll_sketch_estimate(sk) as double) - exact_terms)" +
          " / exact_terms <= 0.05)").as("per_source_within"))
        .crossJoin(broadcast(exactUnion))
        .select(
          col("n_sources"),
          col("exact_union"),
          (abs(col("est_union").cast("double") - col("exact_union"))
            / col("exact_union") <= 0.05).as("union_within"),
          col("per_source_within"))
    },
      // exact twins + pinned accuracy booleans (HLL lgK=12 ⇒ ~1.6% σ; the
      // 5% bound holds with wide margin at any cardinality)
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
         SELECT count(DISTINCT source) AS n_sources,
                count(DISTINCT term) AS exact_union,
                true AS union_within, true AS per_source_within
         FROM tok"""),

    // Mergeable KLL quantile sketches (DataSketches) — the quantile third
    // of the sketch family (HLL distinct above, count-min frequency): ONE
    // aggregation pass builds a per-source sketch; the corpus sketch is
    // the MERGE of the per-source sketches, never a raw-data rescan — the
    // distributed-percentile pattern at 100 TB, where an exact quantile
    // costs a global rank. KLL compaction is randomized, so the contract
    // surfaces deterministic columns only: the exact discrete quantiles
    // (distributed-rank twin, no single-task window), the exact stream
    // length through the merge (kll_n — lossless-merge proof), and bound
    // booleans with a ±5-rank-percent margin (≳3× the k=200 sketch's
    // 99%-confidence error — deterministically true).
    Query("q_kll_quantiles", Batch, (s, d) => {
      import graft.functions.Kll._
      val docs = Tables.documents(s, d)
        .select(col("source"), col("n_chars").cast("double").as("__v"), col("doc_id"))
      val perSk = docs.groupBy("source").agg(kllSketchAgg(col("__v")).as("sk"))
      val allSk = perSk.agg(kllMergeAgg(col("sk")).as("sk"))
        .withColumn("source", lit("<ALL>"))
      val sk = perSk.unionByName(allSk)
      // exact twin: discrete quantiles at integer-math ranks, ranked by the
      // distributed two-level helper (Ranking) — works per-source AND for
      // the global ordering without a single-partition WindowExec
      def cuts(in: DataFrame): DataFrame = {
        val ranked = graft.operators.Ranking.rowNumber(
          in, Seq("source"), Seq(col("__v"), col("doc_id")), "__rn", Some("__n"))
        def at(rank: Column) = max(when(col("__rn") === rank, col("__v")))
        def r(p: Int) = expr(s"($p * __n + 99) div 100")
        def rlo(p: Int) = greatest(r(p), lit(1L))
        def rhi(p: Int) = least(r(p), col("__n"))
        ranked.groupBy("source").agg(
          max(col("__n")).as("n"),
          at(r(50)).as("p50_exact"), at(rlo(45)).as("__p50_lo"), at(rhi(55)).as("__p50_hi"),
          at(r(90)).as("p90_exact"), at(rlo(85)).as("__p90_lo"), at(rhi(95)).as("__p90_hi"))
      }
      val exact = cuts(docs)
        .unionByName(cuts(docs.withColumn("source", lit("<ALL>"))))
      sk.join(exact, "source")
        .select(col("source"), col("n"),
          col("p50_exact"), col("p90_exact"),
          (kllN(col("sk")) === col("n")).as("n_ok"),
          kllQuantile(col("sk"), lit(0.5))
            .between(col("__p50_lo"), col("__p50_hi")).as("p50_ok"),
          kllQuantile(col("sk"), lit(0.9))
            .between(col("__p90_lo"), col("__p90_hi")).as("p90_ok"))
        .orderBy("source")
    },
      // exact discrete-quantile twins (same integer rank math: value at rank
      // ceil(p·n/100) in the (v, doc_id) total order) + pinned booleans —
      // the KLL estimates themselves are randomized and never surfaced
      """WITH r AS (SELECT source, CAST(n_chars AS DOUBLE) AS v,
                           row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
                           count(*) OVER (PARTITION BY source) AS n
                    FROM documents
                    UNION ALL
                    SELECT '<ALL>' AS source, CAST(n_chars AS DOUBLE) AS v,
                           row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
                           count(*) OVER () AS n
                    FROM documents)
         SELECT source, max(n) AS n,
                max(CASE WHEN rn = (50*n + 99) // 100 THEN v END) AS p50_exact,
                max(CASE WHEN rn = (90*n + 99) // 100 THEN v END) AS p90_exact,
                true AS n_ok, true AS p50_ok, true AS p90_ok
         FROM r GROUP BY source ORDER BY source""",
      // Contract form: sketches ⋈ distributed-rank exact twin + bound
      // booleans. Operator: per-source KLL build, corpus merge, quantile
      // extraction — what a pipeline prices (the exact ranking is the
      // verification harness; at 100 TB it's exactly the global sort the
      // sketch exists to avoid).
      benchPlan = Some((s, d) => {
        import graft.functions.Kll._
        val perSk = Tables.documents(s, d)
          .select(col("source"), col("n_chars").cast("double").as("__v"))
          .groupBy("source").agg(kllSketchAgg(col("__v")).as("sk"))
        perSk.unionByName(
            perSk.agg(kllMergeAgg(col("sk")).as("sk")).withColumn("source", lit("<ALL>")))
          .select(col("source"), kllN(col("sk")).as("n"),
            kllQuantile(col("sk"), lit(0.5)).as("p50"),
            kllQuantile(col("sk"), lit(0.9)).as("p90"))
      })),

    // Theta-sketch set algebra — the cross-corpus overlap estimator
    // (train/benchmark contamination screening, crawl-vs-crawl novelty):
    // per-source 3-shingle theta sketches built in ONE pass; intersection
    // and difference estimates for adjacent source pairs run on the
    // KB-sized sketches alone. At 100 TB the exact twin below (shingle-
    // keyed equi-join of the distinct sets) is precisely the giant join
    // the sketches exist to avoid. Theta retention depends on merge order,
    // so the contract surfaces exacts + the sketch's OWN 3σ bound
    // booleans, which collapse to equalities in exact mode (distinct
    // shingles per source stay under k=16384 at both verify SFs — the
    // pinned-false `est_mode` guard makes a scale change fail LOUDLY
    // instead of flaking on probabilistic bounds). k is sized with ~1.5×
    // headroom over sf0.1 yet 4× smaller than the original 65536: partial
    // aggregation allocates a k-entry union per (partition × source), so
    // oversizing k is pure executor-memory burn.
    Query("q_theta_overlap", Batch, (s, d) => {
      import graft.functions.Theta._
      val sidx = expr("cast(substring(source, 4) as int)")
      // cpuWide: the exploded-shingle projection is derived by THREE
      // consumers (sketch agg + both twin join sides), each measured as
      // a ~2.2 s single-task job at raw scan width (r17 per-job decomposition, now `tools.Probe run`)
      val sh = graft.operators.Widen.cpuWide(Tables.documents(s, d))
        .select(col("source"), explode(wordShingles(tokens(col("text")), 3)).as("sh"))
      val sk = sh.groupBy("source")
        .agg(thetaSketchAgg(col("sh"), 16384).as("sk"))
        .select(sidx.as("ia"), col("source"), col("sk"))
      // exact twin: distinct (source, shingle) sets, shingle-keyed join
      val dist = sh.distinct()
      val nBy = dist.groupBy("source").agg(count(lit(1)).as("n"))
        .select(sidx.as("ia"), col("source"), col("n"))
      val ovl = dist.select(sidx.as("ia"), col("sh"))
        .join(dist.select((sidx - lit(1)).as("ia"), col("sh")), Seq("ia", "sh"))
        .groupBy("ia").agg(count(lit(1)).as("exact_overlap"))
      val pairs = nBy.select(col("ia"), col("source").as("source_a"), col("n").as("n_a"))
        .join(nBy.select((col("ia") - lit(1)).as("ia"),
          col("source").as("source_b"), col("n").as("n_b")), "ia")
        .join(ovl, Seq("ia"), "left")
        .withColumn("exact_overlap", coalesce(col("exact_overlap"), lit(0L)))
      // adjacent-pair sketches via lead() over the |sources|-row aggregate
      // (source-domain-bounded) — a self-join would recompute the whole
      // shingle+sketch pass per side: the join-key null filters push below
      // the aggregation and defeat exchange reuse
      import org.apache.spark.sql.expressions.Window
      val wNext = Window.orderBy(col("ia"))
      val skPairs = sk
        .withColumn("sk_b", lead(col("sk"), 1).over(wNext))
        .filter(col("sk_b").isNotNull)
        .select(col("ia"), col("sk").as("sk_a"), col("sk_b"))
      val withSk = pairs.join(skPairs, "ia")
      val inter = thetaIntersect(col("sk_a"), col("sk_b"))
      val diff = thetaANotB(col("sk_a"), col("sk_b"))
      withSk.select(
        col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("exact_overlap"),
        round(col("exact_overlap").cast("double")
          / (col("n_a") + col("n_b") - col("exact_overlap")), 6).as("jaccard"),
        (col("exact_overlap").cast("double").between(
          thetaLb(inter, 3), thetaUb(inter, 3))).as("overlap_ok"),
        ((col("n_a") - col("exact_overlap")).cast("double").between(
          thetaLb(diff, 3), thetaUb(diff, 3))).as("diff_ok"),
        (thetaIsEstimation(col("sk_a")) || thetaIsEstimation(col("sk_b")))
          .as("est_mode"))
        .orderBy("source_a")
    },
      // exact overlap twins via the distinct-set join; bound booleans pinned
      // (exact-mode sketches at verify SF make them equalities)
      """WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
              s0 AS (SELECT source,
                            unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                                   ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)] END) AS sh
                     FROM t),
              s AS (SELECT DISTINCT source, sh FROM s0),
              n AS (SELECT source, CAST(substring(source, 4) AS INT) AS ia, count(*) AS n
                    FROM s GROUP BY 1, 2),
              ov AS (SELECT CAST(substring(a.source, 4) AS INT) AS ia, count(*) AS exact_overlap
                     FROM s a JOIN s b ON a.sh = b.sh
                      AND CAST(substring(b.source, 4) AS INT) = CAST(substring(a.source, 4) AS INT) + 1
                     GROUP BY 1)
         SELECT na.source AS source_a, nb.source AS source_b,
                na.n AS n_a, nb.n AS n_b,
                coalesce(ov.exact_overlap, 0) AS exact_overlap,
                round(CAST(coalesce(ov.exact_overlap, 0) AS DOUBLE)
                      / (na.n + nb.n - coalesce(ov.exact_overlap, 0)), 6) AS jaccard,
                true AS overlap_ok, true AS diff_ok, false AS est_mode
         FROM n na JOIN n nb ON nb.ia = na.ia + 1
         LEFT JOIN ov ON ov.ia = na.ia
         ORDER BY source_a""",
      // Contract form: sketch set-algebra ⋈ distinct-set join exact twin.
      // Operator: per-source theta sketches + pairwise intersect/diff
      // estimates on the sketches alone — the twin's shingle-keyed join IS
      // the corpus-sized work the sketches avoid at 100 TB.
      benchPlan = Some((s, d) => {
        import graft.functions.Theta._
        val sidx = expr("cast(substring(source, 4) as int)")
        // cpuWide — the shingle+sketch pass ran as one task at raw scan
        // width (the contract form's finding applies here too)
        val sk = graft.operators.Widen.cpuWide(Tables.documents(s, d))
          .select(col("source"), explode(wordShingles(tokens(col("text")), 3)).as("sh"))
          .groupBy("source").agg(thetaSketchAgg(col("sh"), 16384).as("sk"))
          .select(sidx.as("ia"), col("source"), col("sk"))
        // ONE sketch pass: adjacent pairs via lead() over the |sources|-row
        // aggregate instead of a self-join, whose pushed-down key filters
        // defeat exchange reuse and re-run the shingle+sketch pass per side
        import org.apache.spark.sql.expressions.Window
        val wNext = Window.orderBy(col("ia"))
        sk.withColumn("source_b", lead(col("source"), 1).over(wNext))
          .withColumn("sk_b", lead(col("sk"), 1).over(wNext))
          .filter(col("sk_b").isNotNull)
          .select(col("source").as("source_a"), col("source_b"),
            round(thetaEstimate(thetaIntersect(col("sk"), col("sk_b"))), 1).as("est_overlap"),
            round(thetaEstimate(thetaANotB(col("sk"), col("sk_b"))), 1).as("est_only_a"))
      })),

    // Frequent-items (Misra–Gries) sketches — the frequency member of the
    // mergeable-sketch family (HLL/theta distinct, KLL quantiles): "which
    // terms dominate this stream" in one aggregation pass over a few-KB
    // state, re-aggregatable per-source → corpus with the same guarantee.
    // The retained sub-threshold map is merge-order dependent, so the
    // contract surfaces only deterministic columns: exact twin values
    // (stream/vocab/max counts) and guarantee booleans that the library
    // PROVES always-true — lossless stream length through merges (freq_n),
    // exact-mode fidelity for a map sized over the vocabulary, and for a
    // deliberately undersized (estimation-mode) sketch the
    // NO_FALSE_NEGATIVES promise (every item with true count > maxError is
    // returned), bound containment (lb ≤ exact ≤ ub for every returned
    // item), and the a-priori error cap (maxError ≤ 3.5·n/maxMapSize).
    Query("q_freq_sketch", Batch, (s, d) => {
      import graft.functions.Freq._
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("term"))
      // per-source sketches + the <ALL> corpus merge: sk128 stays in exact
      // mode (vocab ≪ 0.75·128 capacity), sk8 purges (estimation mode)
      val perSk = tok.groupBy("source").agg(
        freqSketchAgg(col("term"), 128).as("sk128"),
        freqSketchAgg(col("term"), 8).as("sk8"))
      val allSk = perSk.agg(
          freqMergeAgg(col("sk128"), 128).as("sk128"),
          freqMergeAgg(col("sk8"), 8).as("sk8"))
        .withColumn("source", lit("<ALL>"))
      val sk = perSk.unionByName(allSk)
        .withColumn("n128", freqN(col("sk128")))
        .withColumn("n8", freqN(col("sk8")))
        .withColumn("err8", freqMaxError(col("sk8")))
      // exact twin: per-(source, term) counts incl. the <ALL> slice
      val cnt0 = tok.groupBy("source", "term").agg(count(lit(1)).as("c"))
      val cnt = cnt0.unionByName(
        cnt0.groupBy("term").agg(sum("c").as("c")).withColumn("source", lit("<ALL>")))
      def items(skCol: String, suffix: String) = sk
        .select(col("source"), explode(freqItems(col(skCol))).as("it"))
        .select(col("source"), col("it.item").as("term"),
          col("it.est").as(s"est$suffix"), col("it.lb").as(s"lb$suffix"),
          col("it.ub").as(s"ub$suffix"))
      val joined = cnt
        .join(items("sk128", "128"), Seq("source", "term"), "left")
        .join(items("sk8", "8"), Seq("source", "term"), "left")
        .join(sk.select(col("source"), col("n128"), col("n8"), col("err8")), "source")
      joined.groupBy("source").agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("c").as("max_count"),
        // lossless merge: both sketches saw exactly the stream length
        (max(col("n128")) === sum("c") && max(col("n8")) === sum("c")).as("n_ok"),
        // exact mode: every term retained with exact est and collapsed bounds
        (count(when(col("est128") === col("c") && col("lb128") === col("c")
          && col("ub128") === col("c"), 1)) === count(lit(1))).as("exact_items_ok"),
        // NO_FALSE_NEGATIVES: nothing above the sketch's own maxError missing
        (count(when(col("c") > col("err8") && col("est8").isNull, 1)) === 0)
          .as("nfn_ok"),
        // every returned estimation-mode item brackets the exact count
        (count(when(col("est8").isNotNull &&
          !(col("lb8") <= col("c") && col("c") <= col("ub8")
            && col("est8").between(col("lb8"), col("ub8"))), 1)) === 0)
          .as("bounds_ok"),
        // a-priori error cap: maxError ≤ ε·n with ε = 3.5/maxMapSize
        (max(col("err8")).cast("double") <= sum("c") * 3.5 / 8.0).as("err_ok"))
        .orderBy("source")
    },
      // exact stream/vocab/max-count twins; the sketch-side guarantee
      // booleans (lossless merge, exact-mode fidelity, NO_FALSE_NEGATIVES,
      // bound containment, a-priori error cap) are library-proven
      // always-true regardless of merge order, so the oracle pins them
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
              u AS (SELECT source, term FROM tok
                    UNION ALL SELECT '<ALL>' AS source, term FROM tok),
              c AS (SELECT source, term, count(*) AS c FROM u GROUP BY 1, 2)
         SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                count(*) AS n_distinct, max(c) AS max_count,
                true AS n_ok, true AS exact_items_ok, true AS nfn_ok,
                true AS bounds_ok, true AS err_ok
         FROM c GROUP BY source ORDER BY source"""),

    // Join-key skew diagnostics: the concentration profile that justifies
    // (or rules out) salting before a big join.
    Query("q_skew_profile", Batch, (s, d) =>
      graft.operators.Skew.keySkewProfile(Tables.lineitem(s, d), "l_orderkey"),
      """WITH f AS (SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY 1),
              t AS (SELECT max(n) AS top1_n, sum(n) AS topk_n
                    FROM (SELECT n FROM f ORDER BY n DESC, l_orderkey LIMIT 10)),
              g AS (SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows FROM f)
         SELECT n_keys, n_rows,
                round(CAST(top1_n AS DOUBLE) / n_rows, 6) AS top1_share,
                round(CAST(topk_n AS DOUBLE) / n_rows, 6) AS topk_share,
                round(CAST(n_rows AS DOUBLE) / n_keys, 6) AS mean_rows_per_key,
                round(CAST(top1_n AS DOUBLE) / (CAST(n_rows AS DOUBLE) / n_keys), 6) AS top1_vs_mean
         FROM t, g"""),

    // Count-min sketch, SELF-ASSERTING: deterministic fixed-seed sketch of
    // order custkeys, probed for keys 1..25; asserts the CM guarantees
    // (estimate ≥ exact, overshoot ≤ 4·e·N/width) instead of the
    // non-ANSI-expressible counter table (operators/Sketches.scala).
    Query("q_countmin", Batch, (s, d) => {
      import graft.operators.CountMin
      val keys = Tables.orders(s, d).select(col("o_custkey"))
      val sk = CountMin.sketch(keys, col("o_custkey"))
      val probes = s.range(1, 26).select(col("id").as("k"))
      val est = CountMin.estimate(probes, col("k"), sk)
      val exact = keys.filter(col("o_custkey") <= 25)
        .groupBy(col("o_custkey").as("key")).agg(count(lit(1)).as("n_true"))
      val n = keys.count()
      val bound = 4.0 * math.E * n / 2048.0
      est.join(exact, Seq("key"), "left")
        .select(col("key"), col("est"), coalesce(col("n_true"), lit(0L)).as("n_true"))
        .agg(
          count(lit(1)).as("n_probes"),
          min(col("est") >= col("n_true")).as("all_lower_bounded"),
          max(col("est") - col("n_true")).cast("double").leq(lit(bound)).as("all_within_eps"))
    },
      // CM-guarantee assertion twin of the deterministic fixed-seed sketch.
      "SELECT CAST(25 AS BIGINT) AS n_probes, true AS all_lower_bounded, true AS all_within_eps"),

    // HLL set-intersection estimate by inclusion–exclusion (mergeable
    // sketches can union but not intersect — |A∩B| ≈ |A|+|B|−|A∪B| is
    // the standard derived estimate, with error amplified by the union
    // terms). Self-asserting vs the exact intersection; the oracle
    // recomputes the exact count and pins the boolean.
    Query("q_hll_intersect", Batch, (s, d) => {
      val o = Tables.orders(s, d)
      val a = o.filter(inYear(col("o_orderdate"), 1996)).select(col("o_custkey"))
      val b = o.filter(inYear(col("o_orderdate"), 1997)).select(col("o_custkey"))
      val est = a.agg(expr("hll_sketch_estimate(hll_sketch_agg(o_custkey))").as("ea"))
        .crossJoin(b.agg(expr("hll_sketch_estimate(hll_sketch_agg(o_custkey))").as("eb")))
        .crossJoin(a.unionByName(b)
          .agg(expr("hll_sketch_estimate(hll_sketch_agg(o_custkey))").as("eu")))
      val exact = a.intersect(b).agg(count(lit(1)).as("n_exact_intersect"))
      exact.crossJoin(broadcast(est))
        .select(col("n_exact_intersect"),
          (abs((col("ea") + col("eb") - col("eu")).cast("double")
            - col("n_exact_intersect").cast("double"))
            / col("n_exact_intersect").cast("double") <= 0.2).as("est_ok"))
    },
      """SELECT CAST(count(*) AS BIGINT) AS n_exact_intersect, true AS est_ok
         FROM (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                 AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
               INTERSECT
               SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                 AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')"""),
  )
}
