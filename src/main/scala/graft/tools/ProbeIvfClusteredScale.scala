package graft.tools

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, Pq, Similarity}

/** Round-16 measurement for the ONE capacity claim round 15 left argued
  * rather than measured (SCALE.md: "on a clustered real corpus the same
  * √ rule holds recall at far smaller probed fractions"): IVF
  * recall-at-scale under the auto-nLists + auto-nProbe rules on a
  * CLUSTERED substrate. The r15 ProbeAutoNLists table measured ruled
  * recall FALLING 0.443 → 0.268 at 10× on uniform-random vectors —
  * IVF's worst case, where true neighbors are near-orthogonal chance
  * points spread over all cells. This probe plants real cluster
  * structure and re-runs the same protocol.
  *
  * Substrate — the held-rate text-substrate discipline applied to
  * embeddings: C = 40 FIXED Gaussian centers (N(0,1) per dim, 64 dims,
  * seeded driver-side), points = center + σ·N(0,1) with σ = 0.35, so
  * within-cluster spread (σ√d ≈ 2.8) sits far inside the typical
  * inter-center distance (√(2d) ≈ 11.3). Growth mode: 10× POINTS PER
  * CENTER (2,000 → 20,000 points over the same 40 centers), because
  * that is the growth a real corpus exhibits — new documents densify
  * existing topics — and because holding the cluster geometry fixed is
  * what isolates the variable under test (10× centers would change the
  * PROBLEM, not the scale; the claim is about the same structure seen
  * at more data). Point noise is deterministic (xxhash64 → Box–Muller),
  * so both sides replay bit-identically.
  *
  * Protocol (ProbeAutoNLists, unchanged): build + materialize the
  * IVF-PQ index untimed at each side's auto-nLists; recall@3 on a
  * bounded ~64-query hash sample against the exact brute-force twin, at
  * the RULED auto-nProbe and at the retired pinned 8. The capacity
  * question: does ruled recall at 10× hold within a band of its 1×
  * value on clustered data (where it fell 40% on uniform)? */
object ProbeIvfClusteredScale {

  private val Dims = 64
  private val Centers = 40
  private val Sigma = 0.35

  /** u ∈ (0,1) from a portable 20-bit hash slice — the DP-release
    * inverse-CDF discipline. */
  private def u01(seed: Column, salt: Int): Column =
    (pmod(xxhash64(seed, lit(salt)), lit(1048576L)).cast("double") + 0.5) / 1048576.0

  /** Deterministic standard normal via Box–Muller over two hash uniforms. */
  private def gauss(seed: Column, salt: Int): Column =
    sqrt(lit(-2.0) * log(u01(seed, salt))) *
      cos(lit(2.0 * math.Pi) * u01(seed, salt + 7919))

  def main(args: Array[String]): Unit = {
    val work = "/tmp/graft-ivfclustered"
    val spark = Substrate.session()

    // fixed centers, seeded driver-side: C × d doubles — model-sized
    val rnd = new scala.util.Random(4242)
    val centers: Array[Array[Float]] =
      Array.fill(Centers)(Array.fill(Dims)(rnd.nextGaussian().toFloat))
    val centerLit = typedLit(centers.map(_.toSeq).toSeq)

    // Zipf-mass center assignment (cluster c holds mass ∝ 1/(c+1)): the
    // shape a real topic distribution has — few giant topics + a long
    // tail — sitting between the equal-mass clusters and the uniform
    // worst case. Cumulative thresholds in 20-bit hash units, assigned
    // by counting thresholds ≤ the row's hash slice (deterministic).
    val zipfThresh: Seq[Long] = {
      val w = (1 to Centers).map(c => 1.0 / c)
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(cum => (cum / tot * 1048576.0).toLong)
    }
    def zipfIdx: Column =
      size(filter(typedLit(zipfThresh),
        t => t <= pmod(xxhash64(col("id"), lit(31337)), lit(1048576L)))).cast("int")

    def stage(tag: String, n: Long, equalMass: Boolean): String = {
      val dir = s"$work/emb-$tag"
      if (!new java.io.File(dir).exists()) {
        val cIdx =
          if (equalMass) pmod(col("id"), lit(Centers.toLong)).cast("int")
          else zipfIdx
        val emb = transform(sequence(lit(0), lit(Dims - 1)), d =>
          (element_at(element_at(centerLit, cIdx + 1), d + 1).cast("double") +
            lit(Sigma) * gauss(col("id") * Dims + d, 104729)).cast("float"))
        spark.range(n)
          .select(col("id").as("vec_id"), emb.as("embedding"),
            cIdx.as("label"))
          .write.parquet(dir)
      }
      dir
    }

    def side(tag: String, dir: String): Unit = {
      val emb = spark.read.parquet(dir).localCheckpoint(true)
      val n = emb.count()
      val nl = IvfIndex.autoNLists(n)
      val np = IvfIndex.autoNProbe(nl)
      val built = Pq.buildIvfPq(spark, emb, dims = Dims, nLists = nl, m = 16,
        ksub = 64, knownTotal = Some(n))
      val idx = Pq.IvfPqIndex(
        built.encoded.localCheckpoint(true), built.ivfCents, built.cb)
      // bounded ~64-query hash sample + exact twin (the ProbeAutoNLists
      // protocol: threshold scales inversely with n, twin stays linear)
      val qThresh = math.max(1L, 64L * 1000L / n)
      val qs = emb.filter(pmod(xxhash64(col("vec_id")), lit(1000L)) < qThresh)
        .localCheckpoint(true)
      val nQ = qs.count()
      val exact = Similarity.bruteForceKnn(qs, emb, k = 3)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
      def recallAt(np_ : Int): Double = {
        val appr = Pq.ivfPqSearch(idx, qs, k = 3, nProbe = np_)
          .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
        exact.join(appr, Seq("query_id", "neighbor_id"), "left")
          .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") / count(lit(1)))
            .as("recall")).collect()(0).getDouble(0)
      }
      val rec = recallAt(np)
      val rec8 = recallAt(math.min(8, nl))
      // IVF-FLAT recall at the same probes: isolates CELL SELECTION
      // (what the √ rule governs) from PQ quantization error — on tight
      // clusters the residual ADC distortion is comparable to
      // within-cluster distances, so the PQ rows underread the rule
      val flat = IvfIndex.build(spark, emb, nLists = nl, knownTotal = Some(n))
      val flatIdx = graft.operators.IvfIndex.Index(
        flat.assigned.localCheckpoint(true), flat.centroids)
      def recallFlatAt(np_ : Int): Double = {
        val appr = IvfIndex.search(spark, flatIdx, qs, k = 3, nProbe = np_)
          .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
        exact.join(appr, Seq("query_id", "neighbor_id"), "left")
          .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") / count(lit(1)))
            .as("recall")).collect()(0).getDouble(0)
      }
      val recF = recallFlatAt(np)
      val recF8 = recallFlatAt(math.min(8, nl))
      // retrieve-then-rerank at the ruled probes: kShort=24 ADC shortlist,
      // exact rerank to k=3 — the production knob SCALE.md names for
      // closing the PQ-distortion gap the ivfpq column shows
      val short = Pq.ivfPqSearch(idx, qs, k = 24, nProbe = np)
      val rr = Similarity.rerankExact(short, qs, emb, k = 3)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
      val recRr = exact.join(rr, Seq("query_id", "neighbor_id"), "left")
        .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") / count(lit(1)))
          .as("recall")).collect()(0).getDouble(0)
      println(f"$tag%-4s n=$n%6d clusters=$Centers nLists=$nl%3d occ=${n / nl}%4d " +
        f"nProbe=$np%3d (${100.0 * np / nl}%4.1f%% of cells)  " +
        f"recall@3(|Q|=$nQ%3d): ivfpq ruled=$rec%.3f pinned8=$rec8%.3f | " +
        f"ivf-flat ruled=$recF%.3f pinned8=$recF8%.3f | ivfpq+rerank ruled=$recRr%.3f")
    }

    side("1x", stage("1x", 2000L, equalMass = true))
    side("10x", stage("10x", 20000L, equalMass = true))
    // Zipf-mass variant: the largest cluster holds ~23% of points
    // (≈ 4,700 at 10×), the tail cluster ~0.6% — the intermediate
    // regime between equal-mass clusters and the uniform worst case
    side("z1x", stage("z1x", 2000L, equalMass = false))
    side("z10x", stage("z10x", 20000L, equalMass = false))
    println("uniform-substrate reference (r15 ProbeAutoNLists): ruled 0.443 -> 0.268 at 10x")
    spark.stop()
  }
}
