package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Session

/** Iterative graph analytics over edge DataFrames — the PageRank loop a
  * curation pipeline runs over a link/transition graph to weight sources
  * (domain-authority weighting of crawled corpora is standard practice in
  * large-scale pretraining-data recipes).
  *
  * Same distributed-iteration discipline as
  * [[Dedup.connectedComponents]]: each round is one keyed join + one keyed
  * aggregation (both partitioned by node id), `localCheckpoint` truncates
  * the growing lineage, and nothing ever collects to the driver — at 100 TB
  * the edge table shuffles once per round on `src`/`dst` and the rank
  * vector is one slim `(node, rank)` row per vertex.
  */
object Graph {

  /** Synchronous label propagation (Raghavan 2007) with a DETERMINISTIC
    * update — at each fixed iteration every node takes the label most
    * frequent among its neighbors, ties broken by SMALLEST label, isolated
    * nodes keep theirs. Fixed iteration count + deterministic tiebreak
    * make the result exactly replayable (the oracle unrolls the same
    * rounds), unlike the randomized-order LPA the paper sweeps.
    *
    * Community detection over the near-dup graph is the curation step
    * between pairwise dedup and canonical-document election: LPA splits
    * a weakly-bridged blob into its dense parts where min-root connected
    * components would glue everything reachable into one cluster.
    *
    * Scale: each round is one keyed join of the (undirected) edge table
    * against the slim (node, label) vector + one keyed argmax — the
    * [[pageRank]] iteration discipline, lineage truncated per round;
    * nothing collects. `edges` carries each undirected pair ONCE
    * (a < b); both orientations are derived here. */
  def labelPropagation(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val und = edges.select(col("a"), col("b"))
      .unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(false) // consumed once per round
    var labels = nodes.select(col("v"), col("v").as("lbl"))
    for (_ <- 1 to iters) {
      val cnt = und
        .join(labels.select(col("v").as("__n"), col("lbl")), col("b") === col("__n"))
        .groupBy(col("a"), col("lbl")).agg(count(lit(1)).as("cnt"))
      // argmax by (count DESC, label ASC): max over (cnt, -lbl) structs —
      // exact integers, no window over row-sized data without keys
      val best = cnt.groupBy(col("a"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("a").as("__v"), (-col("m.neg")).as("best"))
      labels = labels.join(best, col("v") === col("__v"), "left")
        .select(col("v"), coalesce(col("best"), col("lbl")).as("lbl"))
        .localCheckpoint(false) // truncate the per-round lineage
    }
    labels
  }

  /** Newman modularity of a labeling over an undirected graph, computed
    * EXACTLY: Q = Σ_c [m_c/m − (d_c/2m)²] is evaluated as the integer
    * numerator Σ_c (4·m·m_c − d_c²) over exact DECIMAL(38,0) — summation-
    * order-free — with ONE double division at the end, so the score is
    * engine-reproducible with no float-accumulation caveats. The quality
    * readout for [[labelPropagation]]: Q near 0 says the "communities"
    * are no better than random, so a dedup policy keyed on them is keyed
    * on noise. `edges` carries each undirected pair once (a < b).
    * Returns ONE row (n_communities, m_edges, q_num, modularity). */
  def modularity(labels: DataFrame, edges: DataFrame): DataFrame =
    modularityWith(labels, edges, nodeDegrees(edges), edgeCountOf(edges))

  private[graft] def modularityWith(
      labels: DataFrame, edges: DataFrame, deg: DataFrame, m: Long): DataFrame = {
    // operand width 18 keeps every decimal product inside width 38 on
    // BOTH engines (4·m·m_c is (1+18+18), d_c² is 36) — counts are far
    // below 10¹⁸ at any realistic graph scale
    val dec = "decimal(18,0)"
    val la = labels.select(col("v").as("a"), col("lbl").as("la"))
    val lb = labels.select(col("v").as("b"), col("lbl").as("lb"))
    // internal-edge count per community (each undirected edge once)
    val mIn = edges.join(la, Seq("a")).join(lb, Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).cast(dec).as("mc"))
    // total degree per community from the precomputed node-degree table
    // (cut edges count toward both sides)
    val dSum = deg.select(col("__dv").as("v"), col("__d").as("d"))
      .join(labels, Seq("v"))
      .groupBy(col("lbl")).agg(sum(col("d")).cast(dec).as("dc"))
    val mDec = lit(m).cast(dec)
    val nComm = labels.agg(countDistinct(col("lbl")).as("n_communities"))
    val contrib = dSum.join(mIn, Seq("lbl"), "left")
      .select((lit(4).cast(dec) * mDec * coalesce(col("mc"), lit(0).cast(dec))
        - col("dc") * col("dc")).as("c"))
      .agg(sum(col("c")).cast("decimal(38,0)").as("q_num"))
    contrib.crossJoin(broadcast(nComm))
      .select(col("n_communities"),
        lit(m).as("m_edges"),
        col("q_num").cast("long").as("q_num"),
        round(col("q_num").cast("double")
          / (lit(4.0) * lit(m).cast("double") * lit(m).cast("double")), 6)
          .as("modularity"))
  }

  /** Louvain-style refinement over a labeling (Blondel et al. 2008's
    * local-move/aggregate idea, restricted to ONE deterministic round):
    * communities are merged pairwise when doing so increases modularity,
    * using the exact integer gain ΔQ_num = 4·m·w_AB − 2·d_A·d_B (the
    * [[modularity]] numerator algebra — positive iff 2m·w_AB > d_A·d_B).
    * Merges are the MUTUAL-BEST matching: each community names its
    * highest-gain positive partner (ties to the smallest id) and a merge
    * applies only when the choice is reciprocal. The matching makes the
    * round exact and order-free — merged pairs are disjoint, so each
    * pre-computed gain stays valid and total ΔQ_num is their sum, all
    * strictly positive — and the globally best pair is always mutual, so
    * whenever ANY positive-gain pair exists the round strictly improves
    * Q (asserted in-plan by `q_louvain_refine`). Fully distributed and
    * data-independent in shape: the community graph is an aggregation of
    * the edge table (one shuffle), best-partner is a keyed integer
    * argmax, and the relabel is one keyed join — no driver state, no
    * sequential merge loop; the LPA labeling already did the data-sized
    * coarsening, this pass repairs its over-splits on the community
    * graph. */
  def refineCommunities(labels: DataFrame, edges: DataFrame): DataFrame =
    refineCommunitiesWith(labels, edges, nodeDegrees(edges), edgeCountOf(edges))

  private[graft] def refineCommunitiesWith(
      labels: DataFrame, edges: DataFrame, deg: DataFrame, m: Long): DataFrame = {
    val gains = mergeGainsWith(labels, edges, deg, m)
    // best positive partner per community: argmax (gain DESC, id ASC) —
    // the labelPropagation struct-max trick, exact integers
    val dir = gains.select(col("c1").as("c"), col("c2").as("p"), col("gain"))
      .unionByName(gains.select(col("c2").as("c"), col("c1").as("p"), col("gain")))
    val best = dir.groupBy(col("c"))
      .agg(max(struct(col("gain"), (-col("p")).as("np"))).as("m"))
      .select(col("c"), (-col("m.np")).as("p"))
    // reciprocal choices only → a matching; absorbed takes the root
    // (smaller) community id
    val mutual = best.alias("x")
      .join(best.alias("y"), col("x.p") === col("y.c") && col("y.p") === col("x.c"))
      .filter(col("x.c") < col("x.p"))
      .select(col("x.p").as("lbl"), col("x.c").as("root"))
    labels.join(mutual, Seq("lbl"), "left")
      .select(col("v"), coalesce(col("root"), col("lbl")).as("lbl"))
  }

  /** Per-node undirected degree — LABEL-INVARIANT, so iterating callers
    * compute it ONCE and reuse it across rounds instead of re-aggregating
    * the (2×) edge table per round per consumer (guide §2: don't
    * recompute loop invariants). Node-sized, one keyed aggregation. */
  private[graft] def nodeDegrees(edges: DataFrame): DataFrame =
    edges.select(col("a"), col("b"))
      .unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .groupBy(col("a").as("__dv")).agg(count(lit(1)).as("__d"))

  /** Total undirected edge count as ONE bounded driver scalar (the
    * cusumBinarySeg / pageRank model-sized-collect convention): every
    * round's gain algebra needs the SAME m, and the former per-call
    * `edges.agg(count)` + broadcast pair cost ~2 fixed jobs per round. */
  private[graft] def edgeCountOf(edges: DataFrame): Long = edges.count()

  /** The refinement round's candidate table: positive merge-gain
    * community pairs (c1 < c2, exact integer gain 4·m·w − 2·d_A·d_B)
    * under a labeling — extracted from [[refineCommunities]] and
    * exposed so callers can certify a FIXED POINT: an empty table means
    * no pairwise merge can improve Q (the globally best pair is always
    * mutual, so no positive pair ⇒ no merge ⇒ further rounds are
    * no-ops). Same shapes as the round itself: one aggregation of the
    * edge table, keyed joins, a broadcast 1-row total. */
  def mergeGains(labels: DataFrame, edges: DataFrame): DataFrame =
    mergeGainsWith(labels, edges, nodeDegrees(edges), edgeCountOf(edges))

  private[graft] def mergeGainsWith(
      labels: DataFrame, edges: DataFrame, deg: DataFrame, m: Long): DataFrame = {
    val dec = "decimal(18,0)"
    val la = labels.select(col("v").as("a"), col("lbl").as("la"))
    val lb = labels.select(col("v").as("b"), col("lbl").as("lb"))
    // cross-community edge weights (each undirected pair once, c1 < c2)
    val cw = edges.join(la, Seq("a")).join(lb, Seq("b"))
      .filter(col("la") =!= col("lb"))
      .groupBy(least(col("la"), col("lb")).as("c1"),
        greatest(col("la"), col("lb")).as("c2"))
      .agg(count(lit(1)).cast(dec).as("w"))
    // total degree per community = Σ node degrees under the labeling —
    // the precomputed node-degree table joins the slim label vector
    // instead of re-aggregating the doubled edge table per call
    val cdeg = labels.join(deg, col("v") === col("__dv"))
      .groupBy(col("lbl").as("c")).agg(sum(col("__d")).cast(dec).as("dc"))
    // exact integer merge gain; operand width 18 keeps products inside
    // width 38 on both engines (the modularity convention)
    cw
      .join(cdeg.select(col("c").as("c1"), col("dc").as("d1")), Seq("c1"))
      .join(cdeg.select(col("c").as("c2"), col("dc").as("d2")), Seq("c2"))
      .select(col("c1"), col("c2"),
        (lit(4).cast(dec) * lit(m).cast(dec) * col("w")
          - lit(2).cast(dec) * col("d1") * col("d2")).as("gain"))
      .filter(col("gain") > 0)
  }

  /** [[refineCommunities]] iterated a FIXED number of rounds — the
    * Louvain loop with the deterministic mutual-best matching as its
    * local-move phase: each round re-aggregates the community graph
    * under the previous round's labeling and applies one matching. A
    * round with no positive-gain pair is a fixed point (labels pass
    * through unchanged), so Q is non-decreasing across rounds and the
    * fixed round count keeps the result exactly replayable (the oracle
    * unrolls the same rounds — the LPA convention). Lineage truncated
    * per round. */
  def refineCommunitiesRounds(labels: DataFrame, edges: DataFrame, rounds: Int): DataFrame =
    refineCommunitiesRoundsWith(
      labels, edges, nodeDegrees(edges).localCheckpoint(false),
      edgeCountOf(edges), rounds)

  /** The loop with its round-invariant inputs hoisted (guide §2): the
    * node-degree table (checkpointed once by the caller, node-sized) and
    * the edge count (one bounded scalar) — the former per-round
    * recomputation paid ~4 extra jobs (doubled-edge re-aggregation +
    * count + two broadcast builds) per round. Callers that also read
    * modularity/mergeGains share the same two inputs. */
  private[graft] def refineCommunitiesRoundsWith(
      labels: DataFrame, edges: DataFrame, deg: DataFrame, m: Long,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"refineCommunitiesRounds: rounds=$rounds")
    var l = labels
    for (_ <- 1 to rounds)
      l = refineCommunitiesWith(l, edges, deg, m).localCheckpoint(false)
    l
  }

  /** Exact triangle count of an undirected pair graph (e.g. the near-dup
    * candidate graph — triangle density distinguishes tight dup CLIQUES
    * from chains before clustering commits to a canonical-per-cluster
    * policy). Returns one row `(n_vertices, n_edges, n_triangles)`.
    *
    * Edges are canonically oriented low→high id first, so each triangle
    * a<b<c is enumerated exactly once as (a,b)+(b,c)+(a,c) — the standard
    * distributed oriented-edge enumeration: two keyed equi-joins shipping
    * only slim id pairs, never neighborhoods. (The degree-ordered
    * refinement — orient by degree, not id, bounding join fan-out by
    * arboricity — drops in by swapping the orientation key; id order keeps
    * the result reproducible for the oracle replay.) */
  def triangleCount(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = pairs
      .select(least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(false) // three join branches read it; compute once
    val tri = e.alias("e1")
      .join(e.alias("e2"), col("e1.b") === col("e2.a"))
      .join(e.alias("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val verts = e.select(col("a").as("v")).unionByName(e.select(col("b").as("v")))
      .agg(countDistinct(col("v")).as("n_vertices"), (count(lit(1)) / 2).cast("long").as("n_edges"))
    verts.crossJoin(tri)
  }

  /** First-order transition edges of an event log: `(prev_type → type)`
    * per user in `(ts, event_id)` order (the id tie-break keeps the
    * sequence deterministic under equal timestamps), weighted by
    * occurrence count. One window shuffle on `user_id`, one hash-agg. */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).cast(DoubleType).as("weight"))
  }

  /** Weighted PageRank by power iteration: a FIXED number of rounds of
    *   r'(v) = (1−d)/N + d · Σ_{u→v} r(u) · w(u,v)/out(u)
    * (fixed-round, not convergence-tested, so the result is reproducible
    * across engines — the DuckDB oracle unrolls the same rounds). Dangling
    * nodes (no out-edges) leak their mass, identically on both sides.
    *
    * Per round: one join of the normalized edge table with the rank vector
    * (both keyed on the source node) and one aggregation keyed on the
    * destination — no broadcast of anything data-sized, no driver state.
    * The edge normalization (w/outdeg) is computed once, cached, and reused
    * by every round.
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      iterations: Int = 10, damping: Double = 0.85,
      driverMaxEdges: Long = 1L << 20): DataFrame = {
    require(iterations >= 1, s"need at least one iteration, got $iterations")
    val e = edges.select(
      col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast(DoubleType).as("w"))
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val norm = e.join(outw, Seq("src"))
      .select(col("src"), col("dst"), (col("w") / col("ow")).as("p"))
      .cache()
    // Bounded-driver fast path — the same pattern as the
    // connected-components union-find and the IVF quantizer trainer: a
    // state-machine transition graph has a handful of nodes, and paying
    // 2·iterations of distributed join+agg fixed costs for it is pure
    // overhead. When the normalized edge list fits comfortably on the
    // driver (≤1M edges ≈ tens of MB), iterate there; the distributed
    // loop below is the identical recurrence and takes over beyond the
    // cutoff.
    val nEdges = norm.count()
    if (nEdges <= driverMaxEdges) {
      try driverPageRank(edges.sparkSession, norm, iterations, damping)
      finally norm.unpersist()
    } else distributedPageRank(norm, iterations, damping)
  }

  /** Driver power iteration over a collected normalized edge list; inflow
    * sums fold in sorted (src, dst) order so the result is deterministic. */
  private def driverPageRank(
      spark: org.apache.spark.sql.SparkSession, norm: DataFrame,
      iterations: Int, damping: Double): DataFrame = {
    import spark.implicits._
    val es = norm.as[(String, String, Double)].collect().sortBy(t => (t._1, t._2))
    val nodeIds = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val n = nodeIds.length
    val idx = nodeIds.zipWithIndex.toMap
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iterations) {
      val inflow = Array.fill(n)(0.0)
      es.foreach { case (s, d, p) => inflow(idx(d)) += r(idx(s)) * p }
      r = Array.tabulate(n)(i => (1 - damping) / n + damping * inflow(i))
    }
    nodeIds.zip(r).toSeq.toDF("node", "r")
      .select(col("node"), round(col("r"), 6).as("rank"))
  }

  private def distributedPageRank(
      norm: DataFrame, iterations: Int, damping: Double): DataFrame = {
    val nodes = norm.select(col("src").as("node"))
      .unionByName(norm.select(col("dst").as("node")))
      .distinct().cache()
    val n = nodes.count()
    // Size the loop's shuffle width to the RANK VECTOR (one row per node),
    // not the session default — same discipline as the connected-components
    // loop: a web graph derives one partition per ~250k vertices, so each
    // of the 2·iterations exchanges moves only what the round actually
    // needs. (The norm cache is already materialized — at full session
    // parallelism — by the caller's edge count.)
    val spark = norm.sparkSession
    val width = math.max(4, math.min(spark.sparkContext.defaultParallelism,
      (n / 250000L + 1).toInt))
    try Session.withConf(spark, "spark.sql.shuffle.partitions" -> width.toString) {
      var ranks = nodes
        .select(col("node"), lit(1.0 / n).as("r"))
        .localCheckpoint(true)
      for (_ <- 1 to iterations) {
        val inflow = norm.join(ranks, norm("src") === ranks("node"))
          .select(col("dst").as("node"), (col("r") * col("p")).as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("inflow"))
        ranks = nodes.join(inflow, Seq("node"), "left")
          .select(
            col("node"),
            (lit((1 - damping) / n) +
              lit(damping) * coalesce(col("inflow"), lit(0.0))).as("r"))
          .localCheckpoint(true)
      }
      ranks.select(col("node"), round(col("r"), 6).as("rank"))
    } finally {
      norm.unpersist()
      nodes.unpersist()
    }
  }

  /** Laplace-smoothed Markov transition matrix from weighted edges:
    * P(dst|src) = (w + α) / (out(src) + α·V) over the FULL src × dst
    * grid (unobserved transitions get the smoothing floor) — the
    * next-event model a sessionization pipeline ships. V is the distinct
    * destination-state count. The grid is states², which for a state
    * machine is broadcast-sized by construction; the probabilities are
    * exact-integer ratios in double, so they replay bit-identically in
    * SQL. */
  def markovTransitions(edges: DataFrame, alpha: Double = 1.0): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("weight").cast(DoubleType).as("w"))
    val dsts = e.select(col("dst")).distinct()
    val v = dsts.count()
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    // broadcast = the declared "bounded by construction" contract (distinct
    // states, not data volume) — and what lets the CartesianGuard harness
    // tell this intentional grid from an accidental cartesian.
    outw.crossJoin(broadcast(dsts))
      .join(e, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("w"), lit(0.0)).cast("long").as("n_obs"),
        round((coalesce(col("w"), lit(0.0)) + lit(alpha))
          / (col("ow") + lit(alpha * v)), 6).as("p"))
      .orderBy(col("src"), col("dst"))
  }
}
