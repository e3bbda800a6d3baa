package graft
package contract

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables
import Query.Batch

/** Graph algorithms (`graft.operators.Graph`): PageRank, triangles,
  * label propagation and Louvain. */
private[contract] object GraphQueries {

  /** Unrolled 10-round power-iteration oracle for [[q_pagerank]] — the
    * recursive-CTE route is closed (DuckDB disallows aggregates in the
    * recursive term), so each round is a generated CTE. `(1.0 - 0.85)`
    * stays SPELLED as a subtraction: Scala's `1 - damping` is exact by
    * Sterbenz, while a literal `0.15` is a DIFFERENT double 1 ulp away. */
  private def pageRankSql: String = {
    val head =
      """WITH seq AS (SELECT user_id, event_type,
                             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                      FROM events),
              e AS (SELECT prev AS src, event_type AS dst, CAST(count(*) AS DOUBLE) AS w
                    FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
              ow AS (SELECT src, sum(w) AS ow FROM e GROUP BY 1),
              ne AS (SELECT e.src, e.dst, e.w / ow.ow AS p FROM e JOIN ow ON e.src = ow.src),
              nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT dst FROM e),
              nc AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
              r0 AS (SELECT node, 1.0 / n AS r FROM nodes, nc)"""
    val rounds = (1 to 10).map { k =>
      s""",
              r$k AS (SELECT nodes.node, (1.0 - 0.85) / nc.n + 0.85 * COALESCE(s.inflow, 0.0) AS r
                      FROM nodes CROSS JOIN nc
                      LEFT JOIN (SELECT ne.dst AS node, sum(r.r * ne.p) AS inflow
                                 FROM ne JOIN r${k - 1} r ON ne.src = r.node GROUP BY ne.dst) s
                      ON nodes.node = s.node)"""
    }.mkString
    head + rounds + "\n         SELECT node, round(r, 6) AS rank FROM r10 ORDER BY node"
  }

  val all: Seq[Query] = Seq(
    // Fixed-round weighted PageRank over the event-type transition graph;
    // the DuckDB oracle unrolls the same 10 power-iteration rounds
    // (operators/Graph.scala — per round one keyed join + one keyed agg,
    // localCheckpoint lineage truncation, nothing driver-sized).
    Query("q_pagerank", Batch, (s, d) =>
      graft.operators.Graph.pageRank(
        graft.operators.Graph.eventTransitions(Tables.events(s, d)),
        "src", "dst", "weight", iterations = 10, damping = 0.85)
        .orderBy(col("node")),
      pageRankSql),

    // Laplace-smoothed next-event transition matrix over the full
    // state × state grid (unobserved transitions get the smoothing floor).
    Query("q_markov_next", Batch, (s, d) =>
      graft.operators.Graph.markovTransitions(
        graft.operators.Graph.eventTransitions(Tables.events(s, d))),
      """WITH seq AS (SELECT user_id, event_type,
                             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                      FROM events),
              e AS (SELECT prev AS src, event_type AS dst, CAST(count(*) AS DOUBLE) AS w
                    FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
              ow AS (SELECT src, sum(w) AS ow FROM e GROUP BY 1),
              d AS (SELECT DISTINCT dst FROM e),
              v AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM d)
         SELECT ow.src, d.dst, CAST(COALESCE(e.w, 0) AS BIGINT) AS n_obs,
                round((COALESCE(e.w, 0.0) + 1.0) / (ow.ow + 1.0 * nv), 6) AS p
         FROM ow CROSS JOIN d LEFT JOIN e ON e.src = ow.src AND e.dst = d.dst CROSS JOIN v
         ORDER BY ow.src, d.dst"""),

    // Triangle count of the near-dup candidate graph (same 0.9-Jaccard
    // pair set the clustering query uses) — clique-density diagnostic.
    // Oracle replays the pair graph brute-force and the same oriented
    // 3-way join.
    Query("q_triangles", Batch, (s, d) =>
      graft.operators.Graph.triangleCount(
        Dedup.blockedJaccardPairsUnsorted(Tables.documents(s, d), threshold = 0.9),
        "doc_a", "doc_b"),
      // Triangles: the same brute-force pair graph the clustering oracle
      // replays, then the identical oriented 3-way join.
      """WITH pairs AS (
           SELECT doc_a, doc_b FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    round(len(list_intersect(a.toks, b.toks)) * 1.0
                          / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
             FROM (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) a
             JOIN (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) b
               ON a.source = b.source AND a.doc_id < b.doc_id)
           WHERE jaccard >= 0.9),
         e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
         verts AS (SELECT CAST(count(DISTINCT v) AS BIGINT) AS n_vertices,
                          CAST(count(*) / 2 AS BIGINT) AS n_edges
                   FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)),
         tri AS (SELECT count(*) AS n_triangles
                 FROM e e1 JOIN e e2 ON e1.b = e2.a
                           JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b)
         SELECT verts.n_vertices, verts.n_edges, tri.n_triangles FROM verts, tri"""),

    // Label-propagation community detection (Raghavan 2007, deterministic
    // min-label tiebreak, 3 fixed synchronous rounds) over the within-cell
    // embedding near-dup graph — the curation step between pairwise dedup
    // and canonical-document election: LPA splits weakly-bridged blobs
    // into their dense parts where min-root connected components would
    // glue everything reachable. Per round: one keyed join + one keyed
    // argmax over integers; the oracle unrolls the same rounds.
    Query("q_label_prop", Batch, (s, d) => {
      val cl = graft.operators.Clustering
      val asg = cl.assign(cl.cleanVectors(Tables.embeddings(s, d)), cl.modelFor(s, d))
        .select(col("cl"), col("vec_id"), col("v"))
      val edges = cl.semDedupPairs(asg, cl.SemDedupTau)
        .select(col("vec_a").as("a"), col("vec_b").as("b"))
      graft.operators.Graph.labelPropagation(
          asg.select(col("vec_id").as("v")), edges, iters = 3)
        .groupBy(col("lbl"))
        .agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") >= 2)
        .select(col("lbl").as("community"), col("n_members"))
        .orderBy(col("community"))
    },
      // LPA replay: the shared k-means stage chain, exact within-cell
      // pairs, 3 unrolled synchronous rounds, ≥2-member community rollup.
      graft.operators.Clustering.labelPropOracleSql(
      8, 5, 64, graft.operators.Clustering.SemDedupTau, lpaIters = 3)),

    // Newman modularity of the LPA communities — the quality readout: Q
    // near 0 says the communities are no better than random, so a dedup
    // policy keyed on them is keyed on noise. Exact integer numerator
    // Σ_c(4·m·m_c − d_c²) in DECIMAL (summation-order-free), ONE double
    // division at the end — hash-exact.
    Query("q_modularity", Batch, (s, d) => {
      val cl = graft.operators.Clustering
      val asg = cl.assign(cl.cleanVectors(Tables.embeddings(s, d)), cl.modelFor(s, d))
        .select(col("cl"), col("vec_id"), col("v"))
      val edges = cl.semDedupPairs(asg, cl.SemDedupTau)
        .select(col("vec_a").as("a"), col("vec_b").as("b"))
        .localCheckpoint(false) // LPA rounds + three modularity consumers
      val labels = graft.operators.Graph.labelPropagation(
        asg.select(col("vec_id").as("v")), edges, iters = 3)
      graft.operators.Graph.modularity(labels, edges)
    },
      // Modularity replay: the LPA chain + exact-integer numerator + one
      // final double division.
      graft.operators.Clustering.modularityOracleSql(
      8, 5, 64, graft.operators.Clustering.SemDedupTau, lpaIters = 3)),

    // LOUVAIN-STYLE REFINEMENT over the LPA labeling — one deterministic
    // mutual-best merge round on the AGGREGATED community graph: exact
    // integer merge gains (4*m*w - 2*dA*dB, the modularity numerator
    // algebra), reciprocal-choice matching (disjoint merges => gains add
    // exactly, and the globally best pair is always mutual, so any
    // positive-gain pair guarantees strict Q uplift — asserted in-plan
    // via `improved`). Both Q numerators are exact integers, so the
    // oracle replays the WHOLE round hash-exactly, refined score
    // included.
    Query("q_louvain_refine", Batch, (s, d) => {
      val cl = graft.operators.Clustering
      val G = graft.operators.Graph
      val asg = cl.assign(cl.cleanVectors(Tables.embeddings(s, d)), cl.modelFor(s, d))
        .select(col("cl"), col("vec_id"), col("v"))
      val edges = cl.semDedupPairs(asg, cl.SemDedupTau)
        .select(col("vec_a").as("a"), col("vec_b").as("b"))
        .localCheckpoint(false) // LPA rounds + refine + two modularity reads
      val lpa = G.labelPropagation(asg.select(col("vec_id").as("v")), edges, iters = 3)
        .localCheckpoint(false) // refine + modularity both consume it
      // graph invariants hoisted across all three consumers (guide §2):
      // node degrees once (node-sized checkpoint), edge count once
      val deg = G.nodeDegrees(edges).localCheckpoint(false)
      val m = G.edgeCountOf(edges)
      val refined = G.refineCommunitiesWith(lpa, edges, deg, m)
      val qL = G.modularityWith(lpa, edges, deg, m).select(
        col("m_edges"), col("n_communities").as("n_comm_lpa"),
        col("q_num").as("q_num_lpa"), col("modularity").as("modularity_lpa"))
      val qR = G.modularityWith(refined, edges, deg, m).select(
        col("n_communities").as("n_comm_refined"),
        col("q_num").as("q_num_refined"),
        col("modularity").as("modularity_refined"))
      qL.crossJoin(broadcast(qR)) // two 1-row aggregates, house pattern
        .withColumn("improved", col("q_num_refined") > col("q_num_lpa"))
    },
      // Louvain refinement replay: LPA chain + integer merge gains +
      // mutual-best matching + relabel + both exact Q numerators.
      graft.operators.Clustering.louvainRefineOracleSql(
      8, 5, 64, graft.operators.Clustering.SemDedupTau, lpaIters = 3)),

    // ITERATED Louvain refinement — the full loop with the mutual-best
    // matching as the local-move phase: 3 fixed rounds, each
    // re-aggregating the community graph under the previous labeling.
    // Q is non-decreasing (a no-gain round is a fixed point); the fixed
    // round count keeps the chain exactly replayable — the oracle
    // unrolls all three rounds and both integer numerators.
    Query("q_louvain_rounds", Batch, (s, d) => {
      val cl = graft.operators.Clustering
      val G = graft.operators.Graph
      val asg = cl.assign(cl.cleanVectors(Tables.embeddings(s, d)), cl.modelFor(s, d))
        .select(col("cl"), col("vec_id"), col("v"))
      val edges = cl.semDedupPairs(asg, cl.SemDedupTau)
        .select(col("vec_a").as("a"), col("vec_b").as("b"))
        .localCheckpoint(false) // LPA + 3 refine rounds + 2 modularity reads
      val lpa = G.labelPropagation(asg.select(col("vec_id").as("v")), edges, iters = 3)
        .localCheckpoint(false)
      // graph invariants hoisted across the loop + both modularity reads
      // + the convergence check (guide §2): node degrees once
      // (node-sized checkpoint), edge count once
      val deg = G.nodeDegrees(edges).localCheckpoint(false)
      val m = G.edgeCountOf(edges)
      val refined = G.refineCommunitiesRoundsWith(lpa, edges, deg, m, rounds = 3)
        .localCheckpoint(false) // modularity fold + the fixed-point check
      val qL = G.modularityWith(lpa, edges, deg, m).select(
        col("m_edges"), col("n_communities").as("n_comm_lpa"),
        col("q_num").as("q_num_lpa"), col("modularity").as("modularity_lpa"))
      val qR = G.modularityWith(refined, edges, deg, m).select(
        col("n_communities").as("n_comm_refined"),
        col("q_num").as("q_num_refined"),
        col("modularity").as("modularity_refined"))
      // fixed-point certificate: zero positive-gain pairs under the
      // final labeling ⇒ the fixed 3-round count reached convergence
      // (a 4th round would be a no-op); false means it stopped early
      val conv = G.mergeGainsWith(refined, edges, deg, m)
        .agg((count(lit(1)) === 0L).as("converged"))
      qL.crossJoin(broadcast(qR)) // 1-row aggregates, house pattern
        .crossJoin(broadcast(conv))
        .withColumn("improved", col("q_num_refined") > col("q_num_lpa"))
    },
      // Iterated refinement replay: three unrolled mutual-best rounds plus
      // the fixed-point certificate (a fourth gains chain, count = 0).
      graft.operators.Clustering.louvainRefineOracleSql(
      8, 5, 64, graft.operators.Clustering.SemDedupTau, lpaIters = 3, rounds = 3,
      convergedCol = true)),
  )
}
