package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.functions.dec2

/** Poisson-bootstrap confidence intervals — error bars for a corpus
  * metric in ONE pass, the only bootstrap that works at 100 TB: classic
  * resampling draws n rows with replacement per replicate (R extra
  * passes, a global sample dependency), while the Poisson bootstrap
  * (Chamandy et al. 2012, "Estimating uncertainty for massive data
  * streams" — the Google recipe) gives every row an INDEPENDENT
  * Poisson(1) weight per replicate, so all R replicates ride the one
  * scan as map-side weights and the per-replicate sums are ordinary
  * partial aggregates. n varies ~Poisson(n) per replicate, which is the
  * point — it converges to the same bootstrap distribution without
  * coordination.
  *
  * Determinism is a correctness property here (an error bar a re-run
  * cannot reproduce is noise): the weight is CDF inversion of a
  * portable integer hash against INTEGER cutoffs
  * floor(CDF_Poisson(1)(w)·P), so the draw is integer-exact and
  * engine-portable (no float at the sampling boundary, the
  * [[Curation.dataMixture]] rule). The hash needs MORE than the repo's
  * one-round linear congruential convention: a purely linear
  * u = (h + j)·A mod P is a low-discrepancy LATTICE across rows, which
  * STRATIFIES the weights within each replicate and collapses the
  * replicate-to-replicate variance the bootstrap measures (observed:
  * CI ~4× too narrow — an under-covering error bar is worse than none).
  * One QUADRATIC round — u = ((x² mod P)·A + x) mod P with
  * x = (h + j·1000003) mod P — breaks the lattice while staying inside
  * BIGINT on both engines (x < P ⇒ x² < 10¹⁸) — and the FIRST step
  * reduces the raw key mod P before the multiply (pmod(k,P)·A <
  * 10⁹·2.66·10⁹ ≈ 2.66·10¹⁸ < 2⁶³), so arbitrary BIGINT keys (TPC-H
  * orderkeys beyond SF≈145, hashed user ids, negative keys) stay exact
  * instead of wrapping in Spark while DuckDB throws. The tail truncates
  * at
  * w = 9 (P[w > 8] ≈ 1.1e-6 — the truncation IS the defined algorithm,
  * replayed identically by the oracle). Replicate means use exact
  * DECIMAL sums with ONE rounded double cast each; the CI picks
  * DISCRETE order statistics of the R sorted replicate means at the
  * integer rank targets ⌈R·α/2⌉ / ⌈R·(1−α/2)⌉ (the [[Robust]] rank
  * rule), so the whole result is bit-portable.
  *
  * Scale shape: one pruned scan into ONE aggregation whose buffer holds
  * all R (Σ value·weight, Σ weight) pairs
  * ([[graft.functions.PoissonWeightedSums]], a raw loop over integer
  * cents — the explode(sequence) → per-replicate-group predecessor paid
  * an R-way row fan-out for sums the kernel computes bit-identically);
  * the per-replicate means, sort, and rank picks are then array
  * arithmetic on the result row — zero row amplification, ≤ 16·R bytes
  * per (group, task) through the shuffle, no second aggregation or join
  * anywhere in the family. The caller's `key` must be UNIQUE per row
  * (it seeds the row's weight stream; duplicate keys would correlate
  * draws). A replicate whose total weight lands 0 (astronomically rare
  * at any real n) yields a NULL mean and is EXCLUDED from the order
  * statistics on both engines. */
object Bootstrap {

  private val HashPrime = graft.functions.PortableHash.P

  /** floor(CDF_Poisson(1)(w) · P) for w = 0..8 — the integer cutoffs of
    * the inverse-CDF draw, shared verbatim with the SQL oracle (the
    * [[Curation.JsVocabSize]] shared-constant pattern). */
  val PoissonCutoffs: Seq[Long] = {
    val e = math.exp(-1.0)
    val cdf = Iterator.iterate((e, e, 0)) { case (term, acc, k) =>
      val t2 = term / (k + 1); (t2, acc + t2, k + 1)
    }.take(9).map(_._2).toSeq
    cdf.map(c => math.floor(c * HashPrime).toLong)
  }

  /** Poisson(1) weight of the integer hash `u` ∈ [0, P): the count of
    * cutoffs ≤ u — nine integer comparisons, no float. */
  def poissonWeight(u: Column): Column =
    PoissonCutoffs.map(c => when(u >= c, 1).otherwise(0)).reduce(_ + _)

  /** Engine-portable key hash h = ((k mod P)·A) mod P ∈ [0, P). The key
    * is reduced mod P BEFORE the multiply so every intermediate stays
    * < P·A ≈ 2.66·10¹⁸ < 2⁶³ for ARBITRARY BIGINT keys — without the
    * reduction, keys ≥ ⌊2⁶³/A⌋ ≈ 3.47·10⁹ (TPC-H orderkeys beyond
    * SF≈145, hashed user ids) silently wrap in Spark while DuckDB's
    * BIGINT throws, and negative keys diverge on `%` sign convention
    * (Spark pmod is non-negative; the oracle spells the same thing as
    * `(k % P + P) % P`). Property-tested against a BigInt reference at
    * keys bracketing the old overflow boundary. */
  def keyHash(key: Column): Column = graft.functions.PortableHash.keyHash(key)

  /** Per-replicate uniform draw u ∈ [0, P) from the key hash `h` and
    * replicate index `j` — forwarder to
    * [[graft.functions.PortableHash.replicateUniform]] (one quadratic
    * mixing round; see the file header for why linear draws under-cover). */
  def replicateUniform(h: Column, j: Column): Column =
    graft.functions.PortableHash.replicateUniform(h, j)

  /** One-row result: `n`, the exact-decimal `mean` of `value`, and the
    * [`ci_lo`, `ci_hi`] percentile bootstrap interval at level `alpha`
    * over `replicates` Poisson replicates. `value` flows through the
    * DECIMAL(18,2) money convention. */
  def bootstrapMeanCi(
      df: DataFrame, key: Column, value: Column,
      replicates: Int = 64, alphaPct: Int = 5): DataFrame = {
    require(replicates >= 4, s"bootstrapMeanCi: need replicates >= 4, got $replicates")
    require(alphaPct >= 1 && alphaPct <= 50,
      s"bootstrapMeanCi: alphaPct must be in [1, 50], got $alphaPct")
    // NOT widened: this is ONE single-consumer aggregation pass — the
    // cpuWide barrier was tried and measured a net LOSS here (0.27 ->
    // 0.43 s: the checkpoint round-trip exceeds the single narrow
    // kernel pass; the two-pass median forms below keep it)
    val base = df.select(key.as("__k"), dec2(value).as("__v"))
      .filter(col("__v").isNotNull)
    // ONE aggregation: n + exact decimal total + ALL R (Σv·w, Σw) pairs
    // in the raw-loop kernel buffer ([[graft.functions.PoissonWeightedSums]]
    // — the explode(sequence) → per-j aggregate predecessor paid an R-way
    // row fan-out for sums the kernel computes bit-identically from
    // integer cents); the per-replicate means, sort, and rank picks are
    // then pure ARRAY arithmetic on the one result row — no second
    // aggregation, no join.
    val agg = base.agg(
      count(lit(1)).as("n"), sum(col("__v")).as("sv"),
      graft.functions.PoissonWeightSums.poissonWeightedSums(
        keyHash(col("__k")), (col("__v") * 100).cast(LongType),
        replicates, PoissonCutoffs).as("reps"))
    val half = alphaPct * 5 // α/2 in permille: 5% → 25‰
    // NULL means of zero-weight replicates filter out before the sort
    // (the oracle filters explicitly); ranks follow the repo's discrete
    // integer rule, ⌈r·half/1000⌉ via (x + 999) div 1000
    val withMs = agg.select(col("n"),
      when(col("n") > 0, round(col("sv").cast(DoubleType) / col("n"), 6)).as("mean"),
      array_sort(filter(transform(col("reps"), rp =>
        when(rp.getField("wt") > 0,
          round(rp.getField("vw").cast(DoubleType) / rp.getField("wt"), 6))),
        m => m.isNotNull)).as("ms"))
    val r = size(col("ms"))
    val lo = ((r * half + lit(999)) / lit(1000)).cast(IntegerType)
    val hi = ((r * (1000 - half) + lit(999)) / lit(1000)).cast(IntegerType)
    // Degenerate input (empty df / all-null value column) leaves `ms`
    // empty and lo = hi = 0; element_at(_, 0) is a runtime error in
    // Spark while the oracle's ms[0] is NULL — guard to the NULL-CI row
    // the oracle already produces (fail-soft: n = 0 rows tell the story).
    withMs.select(col("n"), col("mean"),
      when(r > 0, element_at(col("ms"), lo)).as("ci_lo"),
      when(r > 0, element_at(col("ms"), hi)).as("ci_hi"))
  }

  /** Bootstrap CI of the A/B EFFECT SIZE — the distribution-free
    * companion the [[Robust.welchT]] / [[Robust.mannWhitneyU]] family
    * lacks: those answer "is the uplift significant?"; this answers "the
    * uplift is X ± Y", which is what a launch review actually decides
    * on. Per replicate, the same per-(row, replicate) Poisson(1) draws
    * (seeded by the row key ALONE — both arms share one weight stream,
    * so a unit's draw does not depend on its assignment) feed TWO
    * weighted sums keyed by the arm tag, and the replicate statistic is
    * the DIFFERENCE of arm means; the CI picks the discrete order
    * statistics of the R sorted differences. `arm` must evaluate to
    * 0 (control) / 1 (treatment), the [[Robust.welchT]] convention;
    * uplift = mean(treatment) − mean(control). A replicate where either
    * arm's total weight lands 0 is NULL and excluded on both engines; a
    * degenerate input (either arm empty) yields NULL uplift/CI rather
    * than a crash. Same one-pass scale shape as [[bootstrapMeanCi]]:
    * the arm tag rides the ≤ R-group aggregation, two decimal sums per
    * replicate instead of one. */
  def bootstrapUpliftCi(
      df: DataFrame, key: Column, arm: Column, value: Column,
      replicates: Int = 64, alphaPct: Int = 5): DataFrame = {
    require(replicates >= 4, s"bootstrapUpliftCi: need replicates >= 4, got $replicates")
    require(alphaPct >= 1 && alphaPct <= 50,
      s"bootstrapUpliftCi: alphaPct must be in [1, 50], got $alphaPct")
    // NOT widened — the single-pass counter-measurement (bootstrapMeanCi)
    val base = df.select(key.as("__k"), arm.as("__arm"), dec2(value).as("__v"))
      .filter(col("__v").isNotNull && col("__arm").isNotNull)
    // ONE aggregation with one arm-masked kernel per arm (a NULL cents
    // input skips the row in that kernel — each aggregate covers exactly
    // its arm); the per-replicate differences are a zip_with over the two
    // R-length arrays on the one result row.
    val agg = base.agg(
      sum(when(col("__arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("__arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("__arm") === 0, col("__v"))).as("__sa"),
      sum(when(col("__arm") === 1, col("__v"))).as("__sb"),
      graft.functions.PoissonWeightSums.poissonWeightedSums(
        keyHash(col("__k")),
        when(col("__arm") === 0, (col("__v") * 100).cast(LongType)),
        replicates, PoissonCutoffs).as("ra"),
      graft.functions.PoissonWeightSums.poissonWeightedSums(
        keyHash(col("__k")),
        when(col("__arm") === 1, (col("__v") * 100).cast(LongType)),
        replicates, PoissonCutoffs).as("rb"))
    val half = alphaPct * 5
    val withMs = agg.select(col("n_a"), col("n_b"),
      when(col("n_a") > 0 && col("n_b") > 0,
        round(col("__sb").cast(DoubleType) / col("n_b")
          - col("__sa").cast(DoubleType) / col("n_a"), 6)).as("uplift"),
      array_sort(filter(zip_with(col("ra"), col("rb"), (a, b) =>
        when(b.getField("wt") > 0 && a.getField("wt") > 0,
          round(b.getField("vw").cast(DoubleType) / b.getField("wt")
            - a.getField("vw").cast(DoubleType) / a.getField("wt"), 6))),
        m => m.isNotNull)).as("ms"))
    val r = size(col("ms"))
    val lo = ((r * half + lit(999)) / lit(1000)).cast(IntegerType)
    val hi = ((r * (1000 - half) + lit(999)) / lit(1000)).cast(IntegerType)
    withMs.select(col("n_a"), col("n_b"), col("uplift"),
      when(r > 0, element_at(col("ms"), lo)).as("ci_lo"),
      when(r > 0, element_at(col("ms"), hi)).as("ci_hi"))
  }

  /** Per-`byCol`-segment uplift CI — error bars on the effect size in
    * EVERY segment ("the uplift is +2.1 ± 0.8 overall, but −0.3 ± 1.2
    * in segment X" — the quantified form of the heterogeneous-treatment
    * question [[Robust.welchTBy]] only answers with a yes/no). Exactly
    * [[bootstrapUpliftCi]] with the segment riding every aggregation
    * key: the same key-seeded weight stream (a segment's draws are
    * bit-identical to the global operator run on that segment alone —
    * property-tested that way), per-(segment, replicate) two-arm
    * decimal sums with map-side combine, per-segment sorted folds and
    * in-plan rank picks. Segments where either arm is empty drop their
    * uplift to NULL; segments with no valid replicate (either arm's
    * weight zero in every draw) get a NULL CI. */
  def bootstrapUpliftCiBy(
      df: DataFrame, key: Column, arm: Column, value: Column, byCol: String,
      replicates: Int = 64, alphaPct: Int = 5): DataFrame = {
    require(replicates >= 4, s"bootstrapUpliftCiBy: need replicates >= 4, got $replicates")
    require(alphaPct >= 1 && alphaPct <= 50,
      s"bootstrapUpliftCiBy: alphaPct must be in [1, 50], got $alphaPct")
    // NOT widened — the single-pass counter-measurement (bootstrapMeanCi)
    val base = df.select(col(byCol).as("__g"), key.as("__k"),
        arm.as("__arm"), dec2(value).as("__v"))
      .filter(col("__v").isNotNull && col("__arm").isNotNull)
    // ONE keyed aggregation, two arm-masked kernels per segment; the
    // per-(segment, replicate) aggregate + collect + totals join of the
    // explode-era shape collapse into array arithmetic on each row.
    val agg = base.groupBy(col("__g")).agg(
      sum(when(col("__arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("__arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("__arm") === 0, col("__v"))).as("__sa"),
      sum(when(col("__arm") === 1, col("__v"))).as("__sb"),
      graft.functions.PoissonWeightSums.poissonWeightedSums(
        keyHash(col("__k")),
        when(col("__arm") === 0, (col("__v") * 100).cast(LongType)),
        replicates, PoissonCutoffs).as("ra"),
      graft.functions.PoissonWeightSums.poissonWeightedSums(
        keyHash(col("__k")),
        when(col("__arm") === 1, (col("__v") * 100).cast(LongType)),
        replicates, PoissonCutoffs).as("rb"))
    val half = alphaPct * 5
    val withMs = agg.select(col("__g"), col("n_a"), col("n_b"),
      when(col("n_a") > 0 && col("n_b") > 0,
        round(col("__sb").cast(DoubleType) / col("n_b")
          - col("__sa").cast(DoubleType) / col("n_a"), 6)).as("uplift"),
      array_sort(filter(zip_with(col("ra"), col("rb"), (a, b) =>
        when(b.getField("wt") > 0 && a.getField("wt") > 0,
          round(b.getField("vw").cast(DoubleType) / b.getField("wt")
            - a.getField("vw").cast(DoubleType) / a.getField("wt"), 6))),
        m => m.isNotNull)).as("ms"))
    val r = size(col("ms"))
    val lo = ((r * half + lit(999)) / lit(1000)).cast(IntegerType)
    val hi = ((r * (1000 - half) + lit(999)) / lit(1000)).cast(IntegerType)
    withMs
      .select(col("__g").as(byCol), col("n_a"), col("n_b"), col("uplift"),
        when(r > 0, element_at(col("ms"), lo)).as("ci_lo"),
        when(r > 0, element_at(col("ms"), hi)).as("ci_hi"))
      .orderBy(byCol)
  }

  /** Bootstrap CI of the MEDIAN — error bars on the robust-stats
    * family's own statistic (a corpus median without an error bar faces
    * the same "is the shift real?" question the mean CI answers; the
    * median's sampling distribution has no clean closed form, so the
    * bootstrap IS the standard recipe). The same per-(row, replicate)
    * Poisson(1) key-seeded draws flow into the [[Robust]] bit-grid
    * selection machinery as REPLICATE WEIGHT COLUMNS:
    *
    *   - ONE grid-summary scan: rows bucket on the order-preserving bit
    *     grid, and the per-bucket summary carries R+1 weighted counts —
    *     the plain count (j = −1, the point estimate's rank path) plus
    *     one Poisson-weighted count per replicate — via an R+1-way
    *     map-side explode into a ≤ occupied·(R+1)-row keyed aggregate
    *     (collected under the [[Robust.MaxSummaryRows]] ceiling with the
    *     bounded-transfer `limit` discipline);
    *   - R+1 driver-side rank brackets: per replicate, cumulate that
    *     replicate's weights in bucket order and bracket the rank target
    *     ⌈W_j/2⌉ — a point-mass bucket (vmin = vmax) resolves to its
    *     value with NO slice row (the [[Robust.robustStats]] degenerate
    *     split);
    *   - ONE fused slice scan for all live targets: slice rows join the
    *     broadcast (replicate, bucket, residual) targets, each
    *     replicate's weights are RECOMPUTED in-plan from the key (pure
    *     hash — nothing row-sized ever leaves the executors), and a
    *     per-replicate cumulative window picks the first value whose
    *     weighted cumulative crosses the residual.
    *
    * The R replicate medians are DISCRETE data values (the [[Robust]]
    * rank rule), so the CI endpoints are bit-portable; the interval is
    * the same ⌈R·α/2⌉ / ⌈R·(1−α/2)⌉ discrete order-statistic pick as
    * [[bootstrapMeanCi]]. Replicates with zero total weight drop.
    * PRECONDITION: deterministic input (two scans — the
    * [[Robust.robustStats]] contract, enforced). */
  def bootstrapMedianCi(
      df: DataFrame, key: Column, value: Column,
      replicates: Int = 64, alphaPct: Int = 5): DataFrame = {
    import graft.functions.BitGrid.bitBucket
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType => LT, StructField, StructType}
    require(replicates >= 4, s"bootstrapMedianCi: need replicates >= 4, got $replicates")
    require(alphaPct >= 1 && alphaPct <= 50,
      s"bootstrapMedianCi: alphaPct must be in [1, 50], got $alphaPct")
    // cpuWide — the bootstrapMeanCi widening argument (summary + slice
    // scans both re-run the per-row replicate weights)
    val base = Widen.cpuWide(df.select(key.as("__k"), dec2(value).as("v"))
      .filter(col("v").isNotNull))
    Robust.requireDeterministicInput(base, "bootstrapMedianCi")
    val spark = df.sparkSession
    // selection runs on the exact DECIMAL domain; output casts to DOUBLE
    // (the q_ltv money-output convention — the picked values are discrete
    // data values, so the cast is one deterministic IEEE conversion)
    val outSchema = StructType(Seq(
      StructField("n", LT, nullable = false),
      StructField("median", DoubleType, nullable = true),
      StructField("ci_lo", DoubleType, nullable = true),
      StructField("ci_hi", DoubleType, nullable = true)))
    val rows = base.withColumn("__bkt", bitBucket(col("v").cast(DoubleType)))

    // ONE summary scan: per bucket, the value envelope + plain count +
    // ALL R replicate weight sums via the raw-loop aggregate (the
    // explode(sequence) → per-(bucket, j) hash-agg predecessor fanned
    // every row through 64 virtual copies and group probes and measured
    // several times the arithmetic — tools/ProbeMedianCi at 89034bd; the DECIMAL
    // min/max riding that explode was worse still, 3-5 s at sf0.1).
    val summary = Robust.collectSummary(
      rows.groupBy(col("__bkt"))
        .agg(count(lit(1)).as("c"), min(col("v")).as("vmin"), max(col("v")).as("vmax"),
          graft.functions.PoissonWeightSums.poissonWeightSums(
            keyHash(col("__k")), replicates, PoissonCutoffs).as("ws")),
      "bootstrapMedianCi")
    val env: Map[Long, (Long, Any, Any)] = summary.map(r =>
      r.getAs[Long]("__bkt") -> ((r.getAs[Long]("c"),
        r.get(r.fieldIndex("vmin")), r.get(r.fieldIndex("vmax"))))).toMap
    val byBkt: Array[(Long, Long, Seq[Long])] = summary
      .map(r => (r.getAs[Long]("__bkt"), r.getAs[Long]("c"), r.getSeq[Long](r.fieldIndex("ws"))))
      .sortBy(_._1) // bucket order IS value order

    // driver-side rank brackets, one per replicate (j = -1 = the median,
    // from the plain counts)
    final case class T(j: Int, bkt: Long, resid: Long, vmin: Any, vmax: Any)
    def bracket(j: Int, counts: Array[Long]): Option[T] = {
      val off = counts.scanLeft(0L)(_ + _)
      val tot = off.last
      if (tot <= 0) None // zero-weight replicate drops
      else {
        val r = (tot + 1) / 2 // rank target ceil(W/2)
        counts.indices.find(i => off(i) < r && r <= off(i) + counts(i))
          .map { i =>
            val (_, vmin, vmax) = env(byBkt(i)._1)
            T(j, byBkt(i)._1, r - off(i), vmin, vmax)
          }
      }
    }
    val targets: Array[T] =
      (bracket(-1, byBkt.map(_._2)) ++ (0 until replicates).flatMap(j =>
        bracket(j, byBkt.map(_._3(j))))).toArray
    if (targets.isEmpty) // empty / all-null input: the n = 0 NULL row
      return spark.createDataFrame(
        java.util.Arrays.asList(Row(0L, null, null, null)), outSchema)

    val (degT, liveT) = targets.partition(t => t.vmin == t.vmax)
    val degPicks: Map[Int, Any] = degT.map(t => t.j -> t.vmin).toMap
    val livePicks: Map[Int, Any] =
      if (liveT.isEmpty) Map.empty
      else {
        val tDf = spark.createDataFrame(
          java.util.Arrays.asList(liveT.map(t => Row(t.bkt, t.j, t.resid)): _*),
          StructType(Seq(StructField("__bkt", LT), StructField("j",
            org.apache.spark.sql.types.IntegerType), StructField("__resid", LT))))
        // fused slice: one pass fetches every live target's bucket rows;
        // weights recompute in-plan from the key — the slice moves
        // (v, j, w), never anything row-sized to the driver beyond the
        // <= R+1 selected values
        val wWin = org.apache.spark.sql.expressions.Window
          .partitionBy(col("j")).orderBy(col("v"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        rows.join(broadcast(tDf), Seq("__bkt"))
          .select(col("j"), col("v"), col("__resid"),
            when(col("j") === -1, 1)
              .otherwise(poissonWeight(replicateUniform(keyHash(col("__k")), col("j"))))
              .as("__w"))
          .withColumn("__cum", sum(col("__w")).over(wWin))
          .filter(col("__cum") >= col("__resid"))
          .groupBy(col("j")).agg(min(col("v")).as("m"))
          .collect().map(r => r.getAs[Int]("j") -> r.get(r.fieldIndex("m"))).toMap
      }
    val toD = (a: Any) => a match {
      case d: java.math.BigDecimal => d.doubleValue() // = Spark CAST(dec AS DOUBLE)
      case x: java.lang.Number => x.doubleValue()
    }
    val picks: Map[Int, Double] = (degPicks ++ livePicks).map { case (j, m) => j -> toD(m) }
    val n = byBkt.map(_._2).sum
    val ms = picks.collect { case (j, m) if j >= 0 => m }.toArray.sorted
    val half = alphaPct * 5
    def pick(rank: Long): Any =
      if (ms.isEmpty || rank < 1) null else java.lang.Double.valueOf(ms((rank - 1).toInt))
    val lo = pick((ms.length.toLong * half + 999) / 1000)
    val hi = pick((ms.length.toLong * (1000 - half) + 999) / 1000)
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row(n, picks.get(-1).map(java.lang.Double.valueOf).orNull, lo, hi)),
      outSchema)
  }

  /** Per-`byCol`-segment median CI — [[bootstrapMedianCi]] with the
    * segment riding every key (the grouped-gate convention: draws seed
    * by the row key alone, so each segment's CI is bit-identical to the
    * global operator run on that segment in isolation — property-tested
    * that way). The summary is per-(segment, bucket) — grid-bounded per
    * segment, linear in |segments|, so the collect runs under the
    * [[Robust.MaxSummaryRows]] ceiling like every grouped selection —
    * and the fused slice windows partition by (segment, replicate).
    * Segments with no valid rows DROP (there is no median of nothing —
    * the [[Robust.weightedMedian]] contract), unlike the global form's
    * n = 0 NULL row, which exists because a one-row result cannot
    * drop. */
  def bootstrapMedianCiBy(
      df: DataFrame, key: Column, value: Column, byCol: String,
      replicates: Int = 64, alphaPct: Int = 5): DataFrame = {
    import graft.functions.BitGrid.bitBucket
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType => LT, StructField, StructType}
    require(replicates >= 4, s"bootstrapMedianCiBy: need replicates >= 4, got $replicates")
    require(alphaPct >= 1 && alphaPct <= 50,
      s"bootstrapMedianCiBy: alphaPct must be in [1, 50], got $alphaPct")
    // cpuWide — the bootstrapMeanCi widening argument
    val base = Widen.cpuWide(
      df.select(col(byCol).as("__g"), key.as("__k"), dec2(value).as("v")))
      .filter(col("v").isNotNull)
    Robust.requireDeterministicInput(base, "bootstrapMedianCiBy")
    val spark = df.sparkSession
    val gType = df.select(col(byCol)).schema.head.dataType
    val outSchema = StructType(Seq(
      StructField(byCol, gType, nullable = true),
      StructField("n", LT, nullable = false),
      StructField("median", DoubleType, nullable = true),
      StructField("ci_lo", DoubleType, nullable = true),
      StructField("ci_hi", DoubleType, nullable = true)))
    val rows = base.withColumn("__bkt", bitBucket(col("v").cast(DoubleType)))

    // ONE summary scan, segment riding the bucket key (grid-bounded per
    // segment × |segments| rows — the grouped-selection ceiling contract)
    val summary = Robust.collectSummary(
      rows.groupBy(col("__g"), col("__bkt"))
        .agg(count(lit(1)).as("c"), min(col("v")).as("vmin"), max(col("v")).as("vmax"),
          graft.functions.PoissonWeightSums.poissonWeightSums(
            keyHash(col("__k")), replicates, PoissonCutoffs).as("ws")),
      "bootstrapMedianCiBy")
    val byG = summary.groupBy(_.get(0))

    final case class T(g: Any, j: Int, bkt: Long, resid: Long, vmin: Any, vmax: Any)
    val targets = scala.collection.mutable.ArrayBuffer.empty[T]
    val nByG = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
    for ((g, rs) <- byG) {
      val bs = rs.sortBy(_.getAs[Long]("__bkt")) // bucket order IS value order
      nByG(g) = bs.map(_.getAs[Long]("c")).sum
      def bracket(j: Int, counts: Array[Long]): Unit = {
        val off = counts.scanLeft(0L)(_ + _)
        val tot = off.last
        if (tot > 0) { // zero-weight replicate drops
          val r = (tot + 1) / 2
          counts.indices.find(i => off(i) < r && r <= off(i) + counts(i)).foreach { i =>
            targets += T(g, j, bs(i).getAs[Long]("__bkt"), r - off(i),
              bs(i).get(bs(i).fieldIndex("vmin")), bs(i).get(bs(i).fieldIndex("vmax")))
          }
        }
      }
      bracket(-1, bs.map(_.getAs[Long]("c")).toArray)
      val wss = bs.map(_.getSeq[Long](bs.head.fieldIndex("ws")))
      (0 until replicates).foreach(j => bracket(j, wss.map(_(j)).toArray))
    }
    if (targets.isEmpty) // no segment with valid rows: empty result (DROP)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), outSchema)

    val (degT, liveT) = targets.toArray.partition(t => t.vmin == t.vmax)
    val degPicks: Map[(Any, Int), Any] = degT.map(t => (t.g, t.j) -> t.vmin).toMap
    val livePicks: Map[(Any, Int), Any] =
      if (liveT.isEmpty) Map.empty
      else {
        val tDf = spark.createDataFrame(
          java.util.Arrays.asList(liveT.map(t => Row(t.g, t.bkt, t.j, t.resid)): _*),
          StructType(Seq(StructField("__g", gType), StructField("__bkt", LT),
            StructField("j", org.apache.spark.sql.types.IntegerType),
            StructField("__resid", LT))))
        val wWin = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__g"), col("j")).orderBy(col("v"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        rows.join(broadcast(tDf), Seq("__g", "__bkt"))
          .select(col("__g"), col("j"), col("v"), col("__resid"),
            when(col("j") === -1, 1)
              .otherwise(poissonWeight(replicateUniform(keyHash(col("__k")), col("j"))))
              .as("__w"))
          .withColumn("__cum", sum(col("__w")).over(wWin))
          .filter(col("__cum") >= col("__resid"))
          .groupBy(col("__g"), col("j")).agg(min(col("v")).as("m"))
          .collect()
          .map(r => (r.get(0), r.getAs[Int]("j")) -> r.get(r.fieldIndex("m"))).toMap
      }
    val toD = (a: Any) => a match {
      case d: java.math.BigDecimal => d.doubleValue()
      case x: java.lang.Number => x.doubleValue()
    }
    val picks: Map[(Any, Int), Double] =
      (degPicks ++ livePicks).map { case (k, m) => k -> toD(m) }
    val half = alphaPct * 5
    val out = nByG.toSeq.map { case (g, n) =>
      val ms = (0 until replicates).flatMap(j => picks.get((g, j))).sorted
      def pick(rank: Long): Any =
        if (ms.isEmpty || rank < 1) null else java.lang.Double.valueOf(ms((rank - 1).toInt))
      Row(g, n, picks.get((g, -1)).map(java.lang.Double.valueOf).orNull,
        pick((ms.length.toLong * half + 999) / 1000),
        pick((ms.length.toLong * (1000 - half) + 999) / 1000))
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), outSchema)
      .orderBy(byCol)
  }

  /** Per-`byCol`-segment bootstrap CI — error bars for every segment's
    * mean in one pass ("is segment X's metric really higher, or is its
    * n too small to tell?" — the question the per-segment dashboards
    * the grouped drift/test family feeds always raise next). Exactly
    * [[bootstrapMeanCi]] with the segment riding every key: weights are
    * the SAME per-(row, replicate) draws (the key seeds them, not the
    * segment), per-(segment, replicate) decimal sums aggregate with
    * map-side combine (≤ |segments|·R rows per task), and each
    * segment's R-bounded sorted fold and rank picks run in-plan. */
  def bootstrapMeanCiBy(
      df: DataFrame, key: Column, value: Column, byCol: String,
      replicates: Int = 64, alphaPct: Int = 5): DataFrame = {
    require(replicates >= 4, s"bootstrapMeanCiBy: need replicates >= 4, got $replicates")
    require(alphaPct >= 1 && alphaPct <= 50,
      s"bootstrapMeanCiBy: alphaPct must be in [1, 50], got $alphaPct")
    // NOT widened — the single-pass counter-measurement (bootstrapMeanCi)
    val base = df.select(col(byCol).as("__g"), key.as("__k"), dec2(value).as("__v"))
      .filter(col("__v").isNotNull)
    // ONE keyed aggregation (the kernel-buffer shape of the global form):
    // the former per-(segment, replicate) aggregate + per-segment
    // collect_list + totals join collapse into a single groupBy whose
    // array columns carry everything — one shuffle instead of three.
    val agg = base.groupBy(col("__g")).agg(
      count(lit(1)).as("n"), sum(col("__v")).as("sv"),
      graft.functions.PoissonWeightSums.poissonWeightedSums(
        keyHash(col("__k")), (col("__v") * 100).cast(LongType),
        replicates, PoissonCutoffs).as("reps"))
    val half = alphaPct * 5
    val withMs = agg.select(col("__g"), col("n"),
      round(col("sv").cast(DoubleType) / col("n"), 6).as("mean"),
      array_sort(filter(transform(col("reps"), rp =>
        when(rp.getField("wt") > 0,
          round(rp.getField("vw").cast(DoubleType) / rp.getField("wt"), 6))),
        m => m.isNotNull)).as("ms"))
    val r = size(col("ms"))
    val lo = ((r * half + lit(999)) / lit(1000)).cast(IntegerType)
    val hi = ((r * (1000 - half) + lit(999)) / lit(1000)).cast(IntegerType)
    // Same degenerate-edge guard as the global form (a segment whose
    // every replicate lands zero total weight is astronomically rare
    // but must not crash the whole job).
    withMs
      .select(col("__g").as(byCol), col("n"), col("mean"),
        when(r > 0, element_at(col("ms"), lo)).as("ci_lo"),
        when(r > 0, element_at(col("ms"), hi)).as("ci_hi"))
      .orderBy(byCol)
  }
}
