package graft
package contract

import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.Dedup
import graft.sources.Tables
import Query.Batch
import Common._

/** Set operations, joins, and exact and near-duplicate removal. */
private[contract] object SetOpQueries {

  val all: Seq[Query] = Seq(
    Query("q_union_chunks", Batch, (s, d) => {
      val li = Tables.lineitem(s, d)
      val even = li.filter(col("l_linenumber") % 2 === 0)
      val odd = li.filter(col("l_linenumber") % 2 === 1)
      even.unionByName(odd)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"), moneySum(col("l_extendedprice")).as("gross"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag, count(*) AS n_lines,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
         FROM (SELECT * FROM lineitem WHERE l_linenumber % 2 = 0
               UNION ALL
               SELECT * FROM lineitem WHERE l_linenumber % 2 = 1)
         GROUP BY 1 ORDER BY 1"""),

    // INTERSECT / EXCEPT — distinct set semantics; Catalyst plans both as
    // aggregated semi/anti joins (one shuffle each side, no sort). Year
    // membership is a RANGE predicate, not year()=… — ranges reach
    // PushedFilters and prune parquet row groups / date partitions;
    // expressions don't.
    Query("q_intersect", Batch, (s, d) => {
      val o = Tables.orders(s, d)
      o.filter(inYear(col("o_orderdate"), 1995)).select(col("o_custkey"))
        .intersect(o.filter(inYear(col("o_orderdate"), 1996)).select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    },
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         INTERSECT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
         ORDER BY o_custkey"""),

    Query("q_except", Batch, (s, d) => {
      val o = Tables.orders(s, d)
      o.filter(inYear(col("o_orderdate"), 1995)).select(col("o_custkey"))
        .except(o.filter(inYear(col("o_orderdate"), 1996)).select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    },
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         EXCEPT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
         ORDER BY o_custkey"""),

    // Full outer join of two yearly rollups — both sides aggregated before
    // the join, so the shuffle carries one row per (custkey, year) not the
    // raw orders.
    Query("q_full_outer", Batch, (s, d) => {
      val o = Tables.orders(s, d)
      def yearly(y: Int, out: String) =
        o.filter(inYear(col("o_orderdate"), y))
          .groupBy(col("o_custkey"))
          .agg(moneySum(col("o_totalprice")).as(out))
      yearly(1995, "t95").join(yearly(1996, "t96"), Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          coalesce(col("t95"), lit(0.0)).as("t95"),
          coalesce(col("t96"), lit(0.0)).as("t96"))
        .orderBy(col("o_custkey"))
    },
      """WITH a AS (SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS t95
                    FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
              b AS (SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS t96
                    FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1)
         SELECT o_custkey, coalesce(t95, 0) AS t95, coalesce(t96, 0) AS t96
         FROM a FULL JOIN b USING (o_custkey)
         ORDER BY o_custkey"""),

    // Cartesian product — legitimate only when both sides are tiny
    // (dim × domain scaffold rows); Spark requires the explicit crossJoin.
    Query("q_cross_join", Batch, (s, d) =>
      Tables.region(s, d).select(col("r_name"))
        .crossJoin(Tables.orders(s, d).select(col("o_orderstatus")).distinct())
        .orderBy(col("r_name"), col("o_orderstatus")),
      """SELECT r_name, o_orderstatus
         FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
         ORDER BY 1, 2"""),

    // Ordered string aggregation: collect_list is made deterministic by
    // sorting the collected array before joining — same contract as
    // string_agg(... ORDER BY).
    Query("q_string_agg", Batch, (s, d) =>
      Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
        .orderBy(col("r_name")),
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1 ORDER BY 1"""),

    // Explicit left-semi join (EXISTS): one pass over the probe side, build
    // side reduced to its keys — never duplicates customer rows.
    Query("q_semi_join", Batch, (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 300000)
         ORDER BY c_custkey"""),

    // UNION with distinct semantics (plans as Aggregate over Union — the
    // dedup rides the same shuffle, no extra pass).
    Query("q_union_distinct", Batch, (s, d) => {
      val o = Tables.orders(s, d)
      o.filter(inYear(col("o_orderdate"), 1995)).select(col("o_custkey"))
        .union(o.filter(inYear(col("o_orderdate"), 1996)).select(col("o_custkey")))
        .distinct()
        .orderBy(col("o_custkey"))
    },
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         UNION
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
         ORDER BY o_custkey"""),

    // Explicit GROUPING SETS (the general form of rollup/cube: one Expand,
    // only the requested sets).
    Query("q_grouping_sets", Batch, (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_gs")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n
          |FROM lineitem_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),

    // FILTER-clause aggregation: several differently-filtered aggregates in
    // ONE pass over the fact (no per-metric re-scan).
    Query("q_filtered_agg", Batch, (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_fa")
      s.sql(
        """SELECT l_returnflag,
          |       count(*) AS n_all,
          |       count(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS gross_f
          |FROM lineitem_fa GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },
      """SELECT l_returnflag,
                count(*) AS n_all,
                count(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS gross_f
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    Query("q_dedup_pk", Batch, (s, d) => {
      val li = Tables.lineitem(s, d)
      Dedup.dropDuplicatesByKey(li.unionByName(li), li.columns.toSeq)
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_linestatus"))
    },
      """SELECT l_linestatus, count(*) AS n
         FROM (SELECT DISTINCT * FROM (SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem))
         GROUP BY 1 ORDER BY 1"""),

    Query("q_dedup_exact", Batch, (s, d) =>
      Dedup.exactGroups(Tables.documents(s, d)).orderBy(col("doc_id")),
      """SELECT min(doc_id) AS doc_id, sha256(text) AS text_sha, count(*) AS dup_count
         FROM documents GROUP BY sha256(text) ORDER BY doc_id"""),

    Query("q_token_jaccard", Batch, (s, d) =>
      Dedup.blockedJaccardPairs(Tables.documents(s, d), threshold = 0.9),
      """SELECT * FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  round(len(list_intersect(a.toks, b.toks)) * 1.0
                        / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
           FROM (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) a
           JOIN (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) b
             ON a.source = b.source AND a.doc_id < b.doc_id)
         WHERE jaccard >= 0.9 ORDER BY doc_a, doc_b"""),

    // EXACT all-pairs similarity self-join (PPJoin prefix filter) over
    // 3-word shingle sets — no blocking key required, complete by the
    // prefix-filter theorem, and oracle-checked pair-for-pair against
    // DuckDB's brute-force quadratic twin. Shingle sets (not token sets):
    // the testdata vocabulary is tiny, so token sets of unrelated docs are
    // already near-identical — shingle space is |V|³ and keeps similarity
    // selective, which is also why prefixes prune. The 100 TB path is the
    // prefix-filter plan (linear × prefix length); the oracle's cross join
    // exists only at verification SF.
    Query("q_allpairs_jaccard", Batch, (s, d) =>
      Dedup.prefixFilterPairs(
        Dedup.shingleSets(Tables.documents(s, d), n = 3), "doc_id", "sh", threshold = 0.7)
        .orderBy(col("doc_a"), col("doc_b")),
      // The prefix-filter join's oracle is the unblocked brute-force quadratic
      // twin (3-word shingles, same Jaccard, same 6dp rounding) — complete by
      // construction, affordable only at verification SF. The size-ratio
      // prefilter (J ≥ t ⇒ |A|/|B| ∈ [t, 1/t]) keeps the cross join honest
      // without changing the result.
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              sh AS (SELECT doc_id,
                       CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                            ELSE list_distinct([array_to_string(t[i:i+2], ' ')
                                                for i in range(1, len(t) - 1)])
                       END AS s
                     FROM tk)
         SELECT * FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  round(len(list_intersect(a.s, b.s)) * 1.0
                        / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
           FROM sh a JOIN sh b
             ON a.doc_id < b.doc_id
            AND len(a.s) * 0.7 <= len(b.s) AND len(b.s) * 0.7 <= len(a.s))
         WHERE jaccard >= 0.7 ORDER BY doc_a, doc_b"""),

    // MinHash+LSH near-dup, SELF-ASSERTING: the exact ground truth (every
    // pair with shingle-Jaccard ≥ 0.7, via the complete prefix-filter join)
    // is computed in the same plan; the query emits that exact pair count
    // (which the DuckDB oracle recomputes brute-force from the raw text) plus
    // recall and subset booleans. With 16 bands × 4 rows the S-curve gives
    // ≥ 98.8% expected recall AT the 0.7 threshold (higher above it); the
    // assertion floor is 0.8. Subset holds by construction (both sides verify
    // with the same exact Jaccard), so `subset_ok` guards plan consistency.
    Query("q_minhash_lsh", Batch, (s, d) => {
      // ONE materialized shingle table feeds both the exact ground truth
      // and the MinHash operator under test.
      val shingled = Dedup.shingleSets(Tables.documents(s, d), n = 3)
      val exact = Dedup.prefixFilterPairs(shingled, "doc_id", "sh", threshold = 0.7)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("in_exact"))
      val mh = Dedup.minHashPairsFromShingles(shingled)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("in_mh"))
      exact.join(mh, Seq("doc_a", "doc_b"), "full")
        .agg(
          coalesce(sum(col("in_exact")), lit(0L)).as("n_exact"),
          (coalesce(sum(col("in_exact") * col("in_mh")), lit(0L)) >=
            coalesce(sum(col("in_exact")), lit(0L)) * 0.8).as("recall_ok"),
          (coalesce(sum(when(col("in_exact").isNull, 1L)), lit(0L)) === 0L).as("subset_ok"))
    },
      // Self-asserting MinHash recall: the oracle recomputes the EXACT
      // ≥-threshold pair count brute-force (3-word shingles, same Jaccard,
      // same 6dp rounding) and pins the booleans the Spark plan asserts.
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              sh AS (SELECT doc_id,
                       CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                            ELSE list_distinct([array_to_string(t[i:i+2], ' ')
                                                for i in range(1, len(t) - 1)])
                       END AS s
                     FROM tk)
         SELECT count(*) AS n_exact, true AS recall_ok, true AS subset_ok
         FROM sh a JOIN sh b
           ON a.doc_id < b.doc_id
          AND len(a.s) * 0.7 <= len(b.s) AND len(b.s) * 0.7 <= len(a.s)
         WHERE round(len(list_intersect(a.s, b.s)) * 1.0
                     / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.7""",
      // Contract form: minhash pairs ⋈ prefix-filter exact pairs + recall agg.
      // Operator: shingle → 16-band minhash banding → verified pairs.
      benchPlan = Some((s, d) =>
        Dedup.minHashPairsFromShingles(
          Dedup.shingleSets(Tables.documents(s, d), n = 3)))),

    // INCREMENTAL MinHash near-dup — the per-ingest-batch shape a 100 TB
    // pipeline actually runs: docs with doc_id % 5 == 0 arrive as the new
    // batch, the rest are the already-accepted corpus whose banding index
    // ([[Dedup.bandRows]]) and shingle store exist at rest. Candidates are
    // two equi-joins — batch bands probing the index on (band, bucket) and
    // the in-batch self-join — so per-batch cost is |batch|×bands rows;
    // the historical corpus text is never rescanned. Self-asserting like
    // q_minhash_lsh: exact ground truth = the complete prefix-filter pair
    // set restricted to pairs touching the batch (incremental ≡ full
    // restricted to the batch, property-tested in DedupSpec); the oracle
    // recomputes that count brute-force and pins the booleans.
    Query("q_minhash_incremental", Batch, (s, d) => {
      val shingled = Dedup.shingleSets(Tables.documents(s, d), n = 3)
      val isNew = col("doc_id") % 5 === 0
      val oldSh = shingled.filter(!isNew)
      val inc = Dedup
        .minHashIncrementalPairs(shingled.filter(isNew), Dedup.bandRows(oldSh), oldSh)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("in_mh"))
      val exact = Dedup.prefixFilterPairs(shingled, "doc_id", "sh", threshold = 0.7)
        .filter(col("doc_a") % 5 === 0 || col("doc_b") % 5 === 0)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("in_exact"))
      exact.join(inc, Seq("doc_a", "doc_b"), "full")
        .agg(
          coalesce(sum(col("in_exact")), lit(0L)).as("n_exact"),
          (coalesce(sum(col("in_exact") * col("in_mh")), lit(0L)) >=
            coalesce(sum(col("in_exact")), lit(0L)) * 0.8).as("recall_ok"),
          (coalesce(sum(when(col("in_exact").isNull, 1L)), lit(0L)) === 0L).as("subset_ok"))
    },
      // Self-asserting incremental MinHash recall: same brute-force exact
      // recompute as q_minhash_lsh, restricted to pairs touching the batch
      // (doc_id % 5 = 0 on either side).
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              sh AS (SELECT doc_id,
                       CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                            ELSE list_distinct([array_to_string(t[i:i+2], ' ')
                                                for i in range(1, len(t) - 1)])
                       END AS s
                     FROM tk)
         SELECT count(*) AS n_exact, true AS recall_ok, true AS subset_ok
         FROM sh a JOIN sh b
           ON a.doc_id < b.doc_id
          AND len(a.s) * 0.7 <= len(b.s) AND len(b.s) * 0.7 <= len(a.s)
         WHERE (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)
           AND round(len(list_intersect(a.s, b.s)) * 1.0
                     / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.7""",
      // Contract form: incremental pairs ⋈ prefix-filter exact + recall agg.
      // Operator: the batch's shingles + bands probing the PERSISTED band
      // index ([[graft.operators.IndexRegistry.minhashAtRest]] — the corpus
      // side is parquet at rest, exactly what the batch probes at 100 TB;
      // re-deriving it per pass would time corpus re-shingling the pipeline
      // never does).
      benchPlan = Some((s, d) => {
        val (atRestBands, atRestSh, nPart) =
          graft.operators.IndexRegistry.minhashAtRest(s, d)
        val newSh = Dedup.shingleSets(
          Tables.documents(s, d).filter(col("doc_id") % 5 === 0), n = 3)
        Dedup.minHashIncrementalPairs(newSh, atRestBands, atRestSh,
          bandBuckets = nPart)
      })),

    // Near-dup pairs → dedup CLUSTERS (connected components by min-label
    // propagation): the step that turns pairwise similarity into "keep one
    // canonical doc per cluster". Oracle = recursive CTE over the same
    // pair set.
    Query("q_dedup_clusters", Batch, (s, d) =>
      Dedup.connectedComponents(
        Dedup.blockedJaccardPairsUnsorted(Tables.documents(s, d), threshold = 0.9),
        "doc_a", "doc_b")
        .select(col("v").as("doc_id"), col("cluster_id"), col("cluster_size"))
        .orderBy(col("doc_id")),
      """WITH RECURSIVE pairs AS (
           SELECT doc_a, doc_b FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    round(len(list_intersect(a.toks, b.toks)) * 1.0
                          / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
             FROM (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) a
             JOIN (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) b
               ON a.source = b.source AND a.doc_id < b.doc_id)
           WHERE jaccard >= 0.9),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         reach(v, r) AS (
           SELECT a, a FROM edges
           UNION
           SELECT r.v, e.b FROM reach r JOIN edges e ON r.r = e.a)
         SELECT v AS doc_id, min(r) AS cluster_id,
                CAST(count(DISTINCT r) AS BIGINT) AS cluster_size
         FROM reach GROUP BY 1 ORDER BY 1"""),

    // Dedup APPLY — the keep/drop policy a pipeline actually executes with
    // the clusters: keep the best-quality member (longest doc, doc_id
    // tiebreak) per near-dup cluster, drop the rest. The per-cluster pick
    // is a window keyed by cluster_id — many small groups, never a global
    // sort. Oracle extends the cluster CTE with the same ranked pick.
    Query("q_dedup_apply", Batch, (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val cc = Dedup.connectedComponents(
        Dedup.blockedJaccardPairsUnsorted(docs, threshold = 0.9), "doc_a", "doc_b")
      val w = Window.partitionBy(col("cluster_id")).orderBy(col("len").desc, col("doc_id"))
      cc.join(docs.select(col("doc_id"), length(col("text")).as("len")),
          cc("v") === col("doc_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("cluster_size"),
          col("doc_id").as("kept_doc_id"), col("len").as("kept_len"),
          (col("cluster_size") - 1).as("n_dropped"))
        .orderBy(col("cluster_id"))
    },
      """WITH RECURSIVE pairs AS (
           SELECT doc_a, doc_b FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    round(len(list_intersect(a.toks, b.toks)) * 1.0
                          / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
             FROM (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) a
             JOIN (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) b
               ON a.source = b.source AND a.doc_id < b.doc_id)
           WHERE jaccard >= 0.9),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         reach(v, r) AS (
           SELECT a, a FROM edges
           UNION
           SELECT r.v, e.b FROM reach r JOIN edges e ON r.r = e.a),
         clusters AS (
           SELECT v AS doc_id, min(r) AS cluster_id,
                  CAST(count(DISTINCT r) AS BIGINT) AS cluster_size
           FROM reach GROUP BY 1),
         ranked AS (
           SELECT c.cluster_id, c.cluster_size, c.doc_id, len(d.text) AS l,
                  row_number() OVER (PARTITION BY c.cluster_id
                                     ORDER BY len(d.text) DESC, c.doc_id) AS rn
           FROM clusters c JOIN documents d ON d.doc_id = c.doc_id)
         SELECT cluster_id, cluster_size, doc_id AS kept_doc_id,
                CAST(l AS INT) AS kept_len,
                CAST(cluster_size - 1 AS BIGINT) AS n_dropped
         FROM ranked WHERE rn = 1 ORDER BY cluster_id"""),

    // SimHash fingerprints, SELF-ASSERTING: the native codegen voting kernel
    // ([[graft.functions.SimHash64]]) is recomputed per document by an
    // interpreted higher-order-function twin (same per-token xxhash64, same
    // ±1 bit votes, same sign rule, folded with aggregate/zip_with) and the
    // query emits equality over the whole corpus. The oracle recomputes the
    // document count; `all_match` is the kernel-vs-spec bit-identity claim.
    Query("q_simhash", Batch, (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          simHash64(tokens(col("text"))).as("fp"),
          expr(
            """aggregate(
              |  zip_with(
              |    aggregate(
              |      transform(split(text, ' '), t -> xxhash64(t)),
              |      array_repeat(0, 64),
              |      (acc, v) -> zip_with(
              |        acc,
              |        transform(sequence(0, 63), j -> IF(((v >> j) & 1) = 1, 1, -1)),
              |        (x, y) -> x + y)),
              |    sequence(0, 63),
              |    (vote, j) -> IF(vote > 0, shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))),
              |  CAST(0 AS BIGINT),
              |  (a, b) -> a | b)""".stripMargin).as("fp_twin"))
        .agg(
          count(lit(1)).as("n_docs"),
          (sum(when(col("fp") =!= col("fp_twin"), 1L).otherwise(0L)) === 0L).as("all_match")),
      // Native SimHash kernel vs interpreted HOF twin — bit identity over the
      // whole corpus; the oracle recomputes the document count.
      "SELECT count(*) AS n_docs, true AS all_match FROM documents"),

    // Embedding near-dup, SELF-ASSERTING: the exact ground truth (every pair
    // with cosine ≥ 0.4, brute-force over all pairs) is computed in-plan; the
    // query emits the exact pair count (the DuckDB oracle recomputes it with
    // list_cosine_similarity over the same rounded-6dp values), LSH recall
    // against it (theory: ~0.75 detection AT cosine 0.4 with 8 bands × 4
    // planes, higher above; floor 0.55), and the subset check. The quadratic
    // twin is the verification harness, not the operator: the operator's
    // 100 TB path stays the banded-LSH candidate join.
    Query("q_embed_neardup", Batch, (s, d) => {
      val emb = Tables.embeddings(s, d)
      // Materialize (id, vec, norm) once: the brute-force twin and the LSH
      // operator both branch from it (norms would otherwise recompute per
      // branch).
      val base = graft.operators.Widen.cpuWide(emb) // barrier, not bare repartition
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
        .localCheckpoint(false)
      val exact = base.alias("a")
        .join(base.alias("b"), col("a.vec_id") < col("b.vec_id"))
        .select(
          col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          round(dotProduct(col("a.embedding"), col("b.embedding"))
            / (col("a.nrm") * col("b.nrm")), 6).as("cosine"))
        .filter(col("cosine") >= 0.4)
        .select(col("vec_a"), col("vec_b"), lit(1L).as("in_exact"))
      val approx = Dedup.embeddingNearDupFromBase(base)
        .select(col("vec_a"), col("vec_b"), lit(1L).as("in_lsh"))
      exact.join(approx, Seq("vec_a", "vec_b"), "full")
        .agg(
          coalesce(sum(col("in_exact")), lit(0L)).as("n_exact"),
          (coalesce(sum(col("in_exact") * col("in_lsh")), lit(0L)) >=
            coalesce(sum(col("in_exact")), lit(0L)) * 0.55).as("recall_ok"),
          (coalesce(sum(when(col("in_exact").isNull, 1L)), lit(0L)) === 0L).as("subset_ok"))
    },
      // Self-asserting embedding near-dup recall: the oracle recomputes the
      // EXACT cosine ≥ 0.4 pair count with the same rounded-6dp cosine the
      // Spark twin uses (bit-parity proven by q_embed_knn).
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         SELECT count(*) AS n_exact, true AS recall_ok, true AS subset_ok
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4""",
      // Contract form: banded-LSH pairs ⋈ O(n²) brute-force cosine twin.
      // Operator: hyperplane banding → bucket pair generator → cosine filter.
      benchPlan = Some((s, d) =>
        Dedup.embeddingNearDuplicatesUnsorted(Tables.embeddings(s, d))),
      allowCartesian = true),

    // Bloom-filter semi-join reduction: sketch the selective dim side
    // (urgent orders), prefilter the fact scan BEFORE its shuffle, then the
    // exact join. No false negatives → identical to the oracle's plain
    // join; the driver hash-compare IS the correctness proof.
    Query("q_bloom_join", Batch, (s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      val reduced = graft.operators.BloomJoin.semiReduce(
        Tables.lineitem(s, d), col("l_orderkey"),
        urgent, "o_orderkey", expectedItems = 1L << 20)
      reduced.join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          count(lit(1)).as("n_lines"),
          decSum(lineRevenueDec(col("l_extendedprice"), col("l_discount"))).as("revenue"))
        .orderBy(col("o_year"))
    },
      // The oracle is the PLAIN join — the bloom prefilter must be invisible
      // in the result (no false negatives).
      s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS n_lines, $RevSum AS revenue
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'
          GROUP BY 1 ORDER BY 1"""),

    // Substring-overlap dedup via winnowing fingerprints (MOSS recipe),
    // SELF-ASSERTING: the exact ground truth — every pair of docs sharing
    // an 8-token exact window — is computed in-plan by the brute-force
    // every-window join; the winnowing theorem (k=5, w=4 ⇒ guarantee
    // length 8) makes candidate recall PROVABLY complete, and the query
    // asserts exactly that. The oracle recomputes the exact pair count
    // from the raw text (same 8-token windows as strings) and pins the
    // boolean. The 100 TB path is the fingerprint index (density 2/(w+1));
    // the every-window twin exists only at verification SF. Both the
    // window table and the fingerprint table are materialized once —
    // each feeds both sides of a self-join.
    Query("q_substring_dedup", Batch, (s, d) => {
      val docs = Tables.documents(s, d)
      val L = 8 // = k + w − 1 with the operator's (k=5, w=4)
      // Every-window twin via the native ShingleHashes kernel (n=8 window
      // hashes, already sorted+distinct per doc — the array-HOF string-
      // window form re-splits the text per position, see
      // winnowFingerprints' formulation note). Pair counts are hash-
      // insensitive, so the DuckDB oracle replays STRING windows.
      val wins = graft.operators.Widen.cpuWide(docs) // barrier below the kernel
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .filter(size(col("t")) >= L)
        .select(col("doc_id"),
          explode(graft.functions.VectorExpressions.shingleHashes(col("t"), L)).as("wh"))
        .localCheckpoint(false)
      val exact = wins.alias("a")
        .join(wins.alias("b"),
          col("a.wh") === col("b.wh") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
        .withColumn("in_exact", lit(1L))
      val cand = Dedup.substringCandidatePairs(docs, k = 5, w = 4)
        .withColumn("in_cand", lit(1L))
      exact.join(cand, Seq("doc_a", "doc_b"), "full")
        .agg(
          coalesce(sum(col("in_exact")), lit(0L)).as("n_exact"),
          (coalesce(sum(col("in_exact") * col("in_cand")), lit(0L)) ===
            coalesce(sum(col("in_exact")), lit(0L))).as("recall_complete"))
    },
      // Winnowing substring dedup: the oracle recomputes the exact shared-
      // 8-token-window pair count from the raw text; completeness of the
      // fingerprint candidates is the winnowing theorem, pinned as `true`.
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              wins AS (SELECT doc_id,
                              list_distinct([array_to_string(t[i:i+7], ' ')
                                             for i in range(1, len(t) - 6)]) AS ws
                       FROM tk WHERE len(t) >= 8)
         SELECT count(*) AS n_exact, true AS recall_complete
         FROM wins a JOIN wins b
           ON a.doc_id < b.doc_id AND len(list_intersect(a.ws, b.ws)) > 0""",
      // Contract form: winnowing candidates ⋈ every-window exact twin.
      // Operator: winnowing fingerprints (k=5, w=4) → candidate pairs.
      benchPlan = Some((s, d) =>
        Dedup.substringCandidatePairs(Tables.documents(s, d), k = 5, w = 4))),

    // SemDeDup (k-means-cell semantic dedup), SELF-ASSERTING: intra-cell
    // cosine ≥ 0.4 pairs vs the in-plan exact brute-force twin — the cell
    // pairs are a SUBSET by construction (same exact cosine verifies both
    // sides) and recall ≥ floor measures how much the cell partition
    // loses. Uniform-random embeddings are the boundary-loss WORST case
    // (no cluster structure), so the operator runs with 3-way cell
    // multi-assignment: measured recall 0.983 (sf0.01) / 0.958 (sf0.1)
    // vs 0.37-0.44 single-assigned; floor 0.75. The oracle recomputes the
    // exact pair count and pins the booleans.
    Query("q_semdedup", Batch, (s, d) => {
      val emb = Tables.embeddings(s, d)
      val base = graft.operators.Widen.cpuWide(emb) // barrier, not bare repartition
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
        .localCheckpoint(false)
      val exact = base.alias("a")
        .join(base.alias("b"), col("a.vec_id") < col("b.vec_id"))
        .select(
          col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          round(dotProduct(col("a.embedding"), col("b.embedding"))
            / (col("a.nrm") * col("b.nrm")), 6).as("cosine"))
        .filter(col("cosine") >= 0.4)
        .select(col("vec_a"), col("vec_b"), lit(1L).as("in_exact"))
      val cellPairs = graft.operators.IvfIndex
        .semDedupPairs(s, emb, nLists = 8, tau = 0.4, assignTo = 3)
        .select(col("vec_a"), col("vec_b"), lit(1L).as("in_cell"))
      exact.join(cellPairs, Seq("vec_a", "vec_b"), "full")
        .agg(
          coalesce(sum(col("in_exact")), lit(0L)).as("n_exact"),
          (coalesce(sum(col("in_exact") * col("in_cell")), lit(0L)) >=
            coalesce(sum(col("in_exact")), lit(0L)) * 0.75).as("recall_ok"),
          (coalesce(sum(when(col("in_exact").isNull, 1L)), lit(0L)) === 0L).as("subset_ok"))
    },
      // SemDeDup: the oracle recomputes the exact cosine ≥ 0.4 pair count
      // (same rounded-6dp cosine) and pins the recall/subset booleans.
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         SELECT count(*) AS n_exact, true AS recall_ok, true AS subset_ok
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4""",
      // Contract form: cell pairs ⋈ O(n²) brute-force cosine twin.
      // Operator: k-means cells, 3-way multi-assign → in-cell pair generator.
      benchPlan = Some((s, d) =>
        graft.operators.IvfIndex.semDedupPairs(
          s, Tables.embeddings(s, d), nLists = 8, tau = 0.4, assignTo = 3)),
      allowCartesian = true),

    // Entity resolution over the DISTINCT name domain (the classic ER
    // optimization: dedupe values, not rows): block on the head noun,
    // score Jaro–Winkler ≥ 0.85 with the native kernel (bit-parity with
    // DuckDB's scorer proven by q_fuzzy_match), cluster via connected
    // components, map row counts back. Name ids are a dense rank over the
    // sorted distinct-name domain, minted with the DISTRIBUTED ranking
    // helper (order-preserving, so min id ⇔ min name and the canonical
    // member is exact) — no single-partition id window even if the value
    // domain grows fact-sized.
    Query("q_entity_resolution", Batch, (s, d) => {
      val parts = Tables.part(s, d)
      val names = graft.operators.Ranking.rowNumber(
          parts.select(col("p_name")).distinct(), Nil, Seq(col("p_name")), "nid")
        .withColumn("blk", element_at(split(col("p_name"), " "), 2))
        .localCheckpoint(false)
      val pairs = names.alias("a").join(names.alias("b"),
          col("a.blk") === col("b.blk") && col("a.p_name") < col("b.p_name"))
        .filter(graft.functions.JaroWinklerImpl.jaroWinkler(col("a.p_name"), col("b.p_name")) >= 0.85)
        .select(col("a.nid").as("ida"), col("b.nid").as("idb"))
      val clusters = Dedup.connectedComponents(pairs, "ida", "idb")
        .select(col("v").as("nid"), col("cluster_id"))
      val allc = names.join(clusters, Seq("nid"), "left")
        .select(col("p_name"), coalesce(col("cluster_id"), col("nid")).as("cid"))
      val agg = allc.groupBy(col("cid"))
        .agg(min(col("p_name")).as("canonical_name"), count(lit(1)).as("n_names"))
      val cnt = parts.select(col("p_name"))
        .join(allc, Seq("p_name"))
        .groupBy(col("cid")).agg(count(lit(1)).as("n_parts"))
      agg.join(cnt, Seq("cid"))
        .select(col("canonical_name"), col("n_names"), col("n_parts"))
        .orderBy(col("canonical_name"))
    },
      // ER: DuckDB's native jaro_winkler (bit-parity proven) + the same
      // recursive-CTE clustering the dedup oracle uses, singletons included.
      """WITH RECURSIVE n AS (SELECT DISTINCT p_name FROM part),
              pairs AS (SELECT a.p_name AS na, b.p_name AS nb
                        FROM n a JOIN n b
                          ON string_split(a.p_name, ' ')[2] = string_split(b.p_name, ' ')[2]
                         AND a.p_name < b.p_name
                        WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.85),
              edges AS (SELECT na AS a, nb AS b FROM pairs UNION SELECT nb, na FROM pairs),
              reach(v, r) AS (
                SELECT a, a FROM edges
                UNION
                SELECT reach.v, e.b FROM reach JOIN edges e ON reach.r = e.a),
              clus AS (SELECT v, min(r) AS cid FROM reach GROUP BY 1),
              allc AS (SELECT n.p_name AS v, coalesce(c.cid, n.p_name) AS cid
                       FROM n LEFT JOIN clus c ON n.p_name = c.v),
              agg AS (SELECT cid, min(v) AS canonical_name, count(*) AS n_names
                      FROM allc GROUP BY 1),
              cnt AS (SELECT a.cid, count(*) AS n_parts
                      FROM part p JOIN allc a ON p.p_name = a.v GROUP BY 1)
         SELECT canonical_name, n_names, n_parts
         FROM agg JOIN cnt USING (cid) ORDER BY canonical_name"""),

    // Content-addressable group checksums via the native RollingHash
    // kernel over a canonical integer-field string — the cross-engine
    // reconciliation primitive (sum of per-row hashes is order-free, so
    // any engine that replays the canonical form agrees bit-for-bit;
    // DuckDB replays the polynomial fold in a list_reduce).
    Query("q_group_checksum", Batch, (s, d) => {
      val canon = concat_ws("|",
        col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
        col("l_quantity").cast("long").cast("string"), col("l_suppkey").cast("string"))
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), graft.functions.RollingHash.rollingHash(canon).as("h"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))
        .orderBy(col("l_returnflag"))
    },
      // Identical polynomial fold over the canonical string's ASCII codes.
      """WITH c AS (SELECT l_returnflag,
                           CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)
                           || '|' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
                           || '|' || CAST(l_suppkey AS VARCHAR) AS s
                    FROM lineitem),
              h AS (SELECT l_returnflag,
                           list_reduce([CAST(ascii(s[i]) AS BIGINT) for i in range(1, len(s) + 1)],
                                       (acc, ch) -> (acc * 31 + ch) % 1000000007) AS hv
                    FROM c)
         SELECT l_returnflag, count(*) AS n_rows, CAST(sum(hv) AS BIGINT) AS checksum
         FROM h GROUP BY 1 ORDER BY 1"""),
  )
}
