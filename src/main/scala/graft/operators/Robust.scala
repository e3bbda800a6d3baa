package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

import graft.functions.dec2

/** Robust per-group statistics — median, MAD (median absolute deviation)
  * and a winsorized mean — the outlier-resistant profile an ingest pipeline
  * runs over a numeric column before trusting min/max/avg (the reference's
  * summary endpoints surface plain AVG; `workflow.py:151-170`).
  *
  * Quantiles here are DISCRETE (the value at rank `ceil(p·n)`), not
  * interpolated: the selected cut points are actual data values, so the
  * clamped winsorized sum stays in exact `DECIMAL(18,2)` arithmetic and the
  * whole result is bit-portable across engines (interpolated quantiles
  * would inject engine-specific floating error into every downstream
  * aggregate). Rank targets use pure integer math — `(p·100·n + 99) div
  * 100` — never a `0.05 * n` double.
  *
  * Shape: every selection here is distributed histogram selection on the
  * fixed order-preserving bit grid ([[graft.functions.BitGrid]]) — a
  * per-(group, bucket) summary pass, broadcast rank-bracket arithmetic
  * over that value-domain table, and slice scans that shuffle only
  * target-bucket rows. No bounds pass, no per-group sort, nothing
  * quadratic; broadcasts are bracket rows, bounded by |groups|·|targets|.
  *
  * Segments: each statistic with a `…By` form spells its algebra once, in
  * a private core that takes the segment keys — `Nil` for the global form,
  * which is then Spark's global aggregate (`groupBy()`, one row even on
  * empty input), and the segment column riding every key as `__g`
  * otherwise. The public wrappers own the segment contract: the `By` form
  * decides which null rows drop, which one-sided segments drop, any key
  * cast, and returns the segment under its caller's name in segment order;
  * the global form keeps its own guards.
  */
object Robust {

  /** Ceiling (rows) for the driver-collected grid summaries that feed the
    * rank-bracket arithmetic in [[robustStats]] / [[bitValuesAtRanks]].
    * The summary is grid-bounded PER GROUP (≤ 2^18 occupied cells, from
    * the bit-grid format itself) but linear in |groups| — a
    * high-cardinality group column (1M groups × even 1k occupied buckets)
    * would melt the driver with no warning, the
    * [[MaxContingencyCells]] misuse class one layer up. The default
    * (2^21 rows ≈ a few hundred MB of driver heap) admits thousands of
    * fully-dense continuous groups; callers with genuinely wider group
    * domains should pre-bucket the group column, or raise the ceiling via
    * the `graft.robust.maxSummaryRows` session conf if their driver is
    * sized for it. Enforced by [[collectSummary]] with a `limit`-bounded
    * collect, so even the violating job moves at most ceiling+1 rows. */
  val MaxSummaryRows: Int = 1 << 21

  private[operators] def collectSummary(
      df: DataFrame, op: String): Array[org.apache.spark.sql.Row] = {
    val ceiling = df.sparkSession.conf
      .get("graft.robust.maxSummaryRows", MaxSummaryRows.toString).toInt
    // limit bounds the TRANSFER itself (the fail-loud discipline priced in
    // driver bytes, as in Pq.collectBoundedQueries): a violating summary
    // ships ceiling+1 rows, never |groups| × buckets.
    val rows = df.limit(ceiling + 1).collect()
    require(rows.length <= ceiling,
      s"$op: grid summary exceeds $ceiling rows (|groups| x occupied " +
        "buckets) - the driver-side rank brackets require a bounded group " +
        "domain; reduce group cardinality (pre-bucket the group column) or " +
        "raise the graft.robust.maxSummaryRows session conf on a driver " +
        "sized for it")
    rows
  }

  /** Fail loudly when a selection input would not replay identically
    * across the summary and slice scans: both passes re-scan `df`, and
    * rank brackets derived from the first scan silently mis-select
    * against a second scan that saw different rows. A nondeterministic
    * expression anywhere in the plan (`rand()`, `uuid()`,
    * `monotonically_increasing_id()`, …) or a `Sample` node (`df.sample`
    * re-draws per scan) breaks that precondition — the caller must
    * `localCheckpoint()` first, which pins the rows. Detection over the
    * ANALYZED plan is a driver-side tree walk, free at execution scale. */
  private[operators] def requireDeterministicInput(df: DataFrame, op: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.Sample
    val plan = df.queryExecution.analyzed
    val nondet = plan.collectFirst {
      case s: Sample => s.nodeName
      case p if p.expressions.exists(e => !e.deterministic) =>
        p.expressions.filter(e => !e.deterministic)
          .flatMap(_.collectFirst { case e if !e.deterministic => e.prettyName })
          .headOption.getOrElse(p.nodeName)
    }
    require(nondet.isEmpty,
      s"$op: input plan contains a non-deterministic subtree " +
        s"('${nondet.get}') - the summary and slice passes re-scan the " +
        "source and would see different rows, silently mis-selecting; " +
        "localCheckpoint() the input first to pin it")
  }

  /** Distributed inclusive running totals of `sums` over the `v`-ascending
    * GLOBAL order of a per-distinct-value table (each `v` unique). The
    * naive `sum().over(Window.orderBy(v))` funnels everything through ONE
    * WindowExec task — for continuous values distinct ≈ rows: the exact
    * scale-killer the Ranking rewrite removed. Delegates to the grouped
    * two-level scan with no group dimension. */
  private[operators] def runningTotals(perValue: DataFrame, sums: Seq[String]): DataFrame =
    runningTotalsBy(perValue, Nil, sums)

  /** Grouped two-level prefix scan: inclusive running totals of `sums`
    * over the `v`-ascending order WITHIN each `by`-group of a
    * per-(group, distinct-value) table (each (by…, v) unique; empty `by`
    * = the global scan). Same shape as [[Ranking]] / [[SequencePack]]:
    * range-repartition on (by…, v) — lexicographic ranges keep every
    * group's values ordered across partitions — running sums WITHIN each
    * (partition, group) slice (parallel), per-(group, partition) totals
    * cumulated per group over a ≤ parts + |groups| summary and broadcast
    * back. Never a per-group single-task window: a group larger than one
    * partition spans several pids and each slice scans in parallel.
    * Deterministic: `repartitionByRange` samples with a fixed seed and
    * (by…, v) is unique, so both consumers of the exchange see identical
    * pids. */
  private[operators] def runningTotalsBy(
      perValue: DataFrame, by: Seq[String], sums: Seq[String],
      withNextV: Boolean = false): DataFrame = {
    val parts = perValue.sparkSession.sessionState.conf.numShufflePartitions
    val byCols = by.map(col)
    // Materialized (lazy localCheckpoint, the Ranking convention): the
    // row side and the offsets summary are two consumers of this one
    // exchange, and exchange reuse does not reliably deduplicate it.
    val ranged = perValue.repartitionByRange(parts, byCols :+ col("v"): _*)
      .localCheckpoint(false)
      .withColumn("__pid", spark_partition_id())
    // per-(group, partition) totals -> per-group exclusive offsets:
    // ≤ parts + |groups| summary rows (each partition holds a handful of
    // group boundaries), cumulated over the pid order within each group.
    // When `withNextV` is on, the SAME summary also carries each slice's
    // head value, and `lead` over the pid order within the group yields
    // the successor of each slice's LAST value — the cross-partition
    // half of a distributed lead(v), riding the exchanges already paid.
    val wOff = Window.partitionBy(byCols: _*).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wLead = Window.partitionBy(byCols: _*).orderBy(col("__pid"))
    val totals = sums.map(c => sum(col(c)).as(s"__t_$c")) ++
      (if (withNextV) Seq(min(col("v")).as("__h")) else Nil)
    val offs = ranged.groupBy(col("__pid") +: byCols: _*)
      .agg(totals.head, totals.tail: _*)
      .select((col("__pid") +: byCols) ++ sums.map(c =>
        coalesce(sum(col(s"__t_$c")).over(wOff), lit(0L)).as(s"__off_$c")) ++
        (if (withNextV) Seq(lead(col("__h"), 1).over(wLead).as("__nexth")) else Nil): _*)
    // within-(partition, group) running sums, fully parallel across pids
    val wLoc = Window.partitionBy(col("__pid") +: byCols: _*).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local0 = sums.foldLeft(ranged)((d, c) =>
      d.withColumn(s"__run_$c", sum(col(c)).over(wLoc)))
    val local =
      if (withNextV) local0.withColumn("__leadv",
        lead(col("v"), 1).over(Window.partitionBy(col("__pid") +: byCols: _*).orderBy(col("v"))))
      else local0
    local.join(broadcast(offs), "__pid" +: by)
      .select(perValue.columns.map(col) ++
        sums.map(c => (col(s"__off_$c") + col(s"__run_$c")).as(s"cum_$c")) ++
        (if (withNextV) Seq(coalesce(col("__leadv"), col("__nexth")).as("next_v")) else Nil): _*)
  }


  /** Per-group `(n, p05, median, p95, mad, wins_mean)` over `value`.
    * `wins_mean` is the mean with values clamped to `[p05, p95]` —
    * computed in exact decimal, surfaced as a 6-dp double. Null values
    * are ignored throughout (quantiles, MAD and wins_mean all run over
    * the non-null domain; `n` counts only non-null rows).
    *
    * PRECONDITION — `df` must be DETERMINISTIC across re-evaluation
    * (same rows on every scan): the summary pass and the slice pass are
    * two scans of the source, and the rank brackets derived from the
    * first would silently mis-select against a second scan that saw
    * different rows (a `sample()`/`rand()` subtree, a mutating file
    * listing). Callers with such inputs must checkpoint first. ENFORCED
    * for the detectable class ([[requireDeterministicInput]]): a
    * nondeterministic expression or Sample node in the plan fails loudly
    * at build time instead of yielding silently wrong quantiles. The
    * [[weightedMedian]] family carries the same contract.
    *
    * Job shape — ONE full scan + ONE fused slice scan. Rows bucket on
    * the fixed order-preserving bit grid ([[graft.functions.BitGrid]]),
    * so the per-(group, bucket) summary — counts, exact-decimal value
    * sums, and ACTUAL per-bucket `[vmin, vmax]` — is the first and only
    * pass over the data (a `(v − lo)/width` histogram would need a
    * bounds pass first). Everything else is arithmetic over that tiny
    * value-domain table, computed driver-side on the collected summary
    * (the slice join broadcasts the resulting targets, so the table's
    * rows travel through the driver either way — see in-code note):
    *   - cut targets (p05/med/p95 rank brackets) — CDF prefix sums;
    *   - the MAD bracket — the value histogram FOLDED around the p50
    *     bracket's bucket INTERVAL (not the exact median, which no
    *     slice has computed yet): per bucket, the deviation range is
    *     conservatively `[Dmin, Dmax] = dist([vmin, vmax], [mlo, mhi])`
    *     interval distances, and rank bounds over those brackets pick
    *     the deviation-median's bucket annulus without EVER scanning
    *     deviations. Interval folding costs at most the boundary
    *     buckets of annulus width but makes the MAD targets independent
    *     of the cut slice — which is what lets both slices FUSE;
    *   - the winsorized sum — decimal addition is associative-exact, so
    *     `Σ dec2(clamp(v))` decomposes into bucket-level decimal sums
    *     (from the summary) plus per-boundary-bucket corrections that
    *     ride the cut slice: `n_below·dec2(p05) + n_above·dec2(p95) +
    *     S_mid` is bit-identical to the row-by-row DuckDB replay.
    * The single slice pass then fetches cut-bucket AND annulus rows in
    * one broadcast join, picks the cuts, spreads the now-exact median
    * to the annulus rows by a per-group window, and selects the MAD —
    * windows only, no second data pass, one final per-group aggregate.
    * At 100 TB that is one full pass + one bounded probe (two barrier
    * jobs), vs round 6's full pass + two probes and round 5's three
    * full passes.
    *
    * PRECONDITION (enforced, not advisory): the input plan must be
    * deterministic across re-scans — both passes re-scan `df`, and
    * brackets from the first scan silently mis-select against a second
    * scan that saw different rows. Plans containing `rand()`/`uuid()`/
    * `monotonically_increasing_id()`/`df.sample` are REJECTED at build
    * time ([[requireDeterministicInput]]); `localCheckpoint()` the input
    * first to pin such rows. This also rejects order-dependent-but-
    * often-benign expressions (`first`, seeded `rand`) — deliberately:
    * Catalyst's determinism flag is the only engine-level guarantee of
    * identical re-scans, and a silent wrong quantile is strictly worse
    * than a loud rejection plus a one-line checkpoint. Same contract on
    * [[weightedMedian]] and every [[bitValuesAtRanks]] caller. */
  def robustStats(df: DataFrame, groupCol: String, value: Column): DataFrame = {
    import graft.functions.BitGrid.bitBucket
    requireDeterministicInput(df, "robustStats")
    // `base` feeds the summary pass and the fused slice pass as two
    // PRUNED re-scans of the source (same reasoning as the
    // [[weightedMedian]] path: a two-column pruned parquet scan measures
    // cheaper than a checkpoint write + read round-trip, re-verified
    // after the point-mass split shrank the slice). The bucket id is a
    // pure function of the value bits — identical on every
    // recomputation — so the slice joins key on it safely.
    val base = df
      .select(col(groupCol).as("__g"), value.cast(DoubleType).as("v"))
      .filter(col("v").isNotNull)
      .withColumn("__bkt", bitBucket(col("v")))

    // ---- the ONE full scan: per-(group, bit-bucket) summary ------------
    // Only OCCUPIED buckets materialize (groupBy), so the summary is
    // ≤ min(distinct values, grid cells)·|groups| rows — a value-domain
    // table with a HARD bound from the float format itself (the default
    // grid has ≤ 2^18 cells over ALL doubles), never row-sized. It is
    // COLLECTED: every rank bracket below is arithmetic over this table,
    // and the slice join then BROADCASTS the resulting targets — the
    // table's rows travel through the driver either way, so doing the
    // bracket math there collapses the former checkpoint → windows →
    // target-collect chain (three barrier jobs) into ONE
    // aggregate-and-collect job. The decimal prefix sums stay exact:
    // java BigDecimal addition is the same arithmetic the window sums
    // performed.
    val pcts = Seq(5, 50, 95)
    val dec0 = dec2(lit(0.0))
    val rawSummary = base.groupBy(col("__g"), col("__bkt"))
      .agg(count(lit(1)).as("__c"), sum(dec2(col("v"))).as("__s"),
        min(col("v")).as("__vmin"), max(col("v")).as("__vmax"))
    val sSchema = rawSummary.schema

    // ---- driver-side bracket arithmetic over the value-domain table ----
    // Bucket-id order IS value order (bit grid), so per-group prefix
    // sums over __bkt are value-CDF offsets; each target rank lands in
    // the one bucket whose (off, off+c] bracket holds it.
    //
    // MAD bracket — fold the histogram around the median's BUCKET: the
    // exact median is unknown before any slice runs, but the p50 bracket
    // pins it inside one bucket's [mlo, mhi]. Folding around that
    // INTERVAL keeps every bound conservative (per bucket, dev ∈
    // [Dmin, Dmax] = interval distances to [mlo, mhi], a superset of the
    // true range) while keeping the MAD targets independent of the cut
    // slice — which is what lets both slices FUSE into the single data
    // pass below. Rank bounds over the brackets (closed forms of the
    // former union-sweep):
    //   cub(k) = Σ{c_j : Dmin_j ≤ Dmax_k} ≥ count(dev ≤ Dmax_k)  (upper)
    //   dhi    = min{Dmax_k : Σ{c_j : Dmax_j ≤ Dmax_k} ≥ T}      (lower)
    // E = {k : cub(k) < T} rows sit strictly below the deviation median
    // d*, so the T-th smallest deviation overall is the (T − |E|)-th
    // among the annulus {k ∉ E : Dmin_k ≤ dhi}; d* ≤ dhi certifies the
    // annulus from above.
    final case class Bkt(bkt: Long, c: Long, s: java.math.BigDecimal,
      vmin: Double, vmax: Double)
    // target row: cut (p ∈ pcts) or MAD annulus (p = -1, dhi set)
    final case class Tgt(g: Any, b: Bkt, p: Int, resid: Long,
      off: Long, offs: java.math.BigDecimal, tot: Long,
      tots: java.math.BigDecimal, dhi: java.lang.Double)
    val targets = collectSummary(rawSummary, "robustStats")
      .groupBy(_.get(0)).iterator.flatMap {
      case (g, rows) =>
        val bs = rows.map(r => Bkt(r.getLong(1), r.getLong(2),
          r.getAs[java.math.BigDecimal](3), r.getDouble(4), r.getDouble(5)))
          .sortBy(_.bkt)
        val n = bs.length
        val off = new Array[Long](n)
        val offs = new Array[java.math.BigDecimal](n)
        var accC = 0L
        var accS = java.math.BigDecimal.ZERO.setScale(2)
        var i = 0
        while (i < n) {
          off(i) = accC; offs(i) = accS
          accC += bs(i).c; accS = accS.add(bs(i).s); i += 1
        }
        val (tot, tots) = (accC, accS)
        def bracket(r: Long): Int = { // first i with off(i) < r ≤ off(i)+c(i)
          var lo = 0; var hi = n - 1
          while (lo < hi) {
            val m = (lo + hi) / 2
            if (off(m) + bs(m).c < r) lo = m + 1 else hi = m
          }
          lo
        }
        val tgt = (50L * tot + 99) / 100
        val i50 = bracket(tgt)
        val (mlo, mhi) = (bs(i50).vmin, bs(i50).vmax)
        val cuts = pcts.map { p =>
          val r = (p.toLong * tot + 99) / 100
          val i = bracket(r)
          Tgt(g, bs(i), p, r - off(i), off(i), offs(i), tot, tots, null)
        }
        val dmax = bs.map(b => Seq(math.abs(b.vmin - mlo), math.abs(b.vmin - mhi),
          math.abs(b.vmax - mlo), math.abs(b.vmax - mhi)).max)
        val dmin = bs.map(b =>
          if (b.vmin <= mhi && b.vmax >= mlo) 0.0
          else if (b.vmin > mhi) b.vmin - mhi else mlo - b.vmax)
        // dhi: sweep dmax ascending until the weighted count reaches T
        val byDmax = bs.indices.sortBy(dmax(_))
        var dhi = 0.0; var acc = 0L
        val it = byDmax.iterator
        while (acc < tgt && it.hasNext) { val k = it.next(); acc += bs(k).c; dhi = dmax(k) }
        // cub via sorted dmin + weighted prefix (binary search per probe)
        val dminPairs = bs.indices.map(k => (dmin(k), bs(k).c)).sortBy(_._1)
        val dminSorted = dminPairs.map(_._1)
        val dminCum = dminPairs.scanLeft(0L)(_ + _._2).tail
        def cub(d: Double): Long = { // Σ c_j where dmin_j ≤ d
          var lo = 0; var hi = n // first index with dminSorted > d
          while (lo < hi) {
            val m = (lo + hi) / 2
            if (dminSorted(m) <= d) lo = m + 1 else hi = m
          }
          if (lo == 0) 0L else dminCum(lo - 1)
        }
        val isE = bs.indices.map(k => cub(dmax(k)) < tgt)
        val ecnt = bs.indices.collect { case k if isE(k) => bs(k).c }.sum
        val annulus = bs.indices
          .filter(k => !isE(k) && dmin(k) <= dhi)
          .map(k => Tgt(g, bs(k), -1, tgt - ecnt, off(k), offs(k), tot, tots, dhi))
        cuts ++ annulus
    }.toArray

    // ---- point-mass split: degenerate buckets never hit the slice -----
    // A DEGENERATE target bucket (vmin = vmax — a point mass; half-zeros
    // columns are normal data) contributes a run of identical values, so
    // its effect on every rank selection is known from the summary alone:
    // it enters the slice as ONE injected row holding the common value
    // with the bucket count as its weight (a LOCAL relation — no job, no
    // scan); only multi-valued target buckets go back out as the
    // broadcast build side of the slice join. Without this, a
    // 50%-one-value column routes half the group's rows into ONE (g, p)
    // window task at any scale. Correctness is uniform, not special-cased:
    //   - cut picks: the (g, p) slice is exactly the one target bucket;
    //     if degenerate, the injected row's weighted cum ≥ resid and the
    //     pick is its value — identical to scanning the run;
    //   - winsor corrections (v < p05 / v > p95 within the boundary
    //     bucket) are identically ZERO for an injected row: its bucket is
    //     the target, so pick = its value and the strict inequality can
    //     never hold — the unweighted correction sums stay exact;
    //   - the MAD annulus orders by deviation: an injected annulus row's
    //     dev = |value − median| is the exact common deviation of its
    //     whole run, and the weighted cumulative crosses resid inside the
    //     run iff the true rank falls there (ties at equal dev pick the
    //     same dev whatever their order).
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val spark = df.sparkSession
    val decType = sSchema("__s").dataType
    val tgtFields = Seq(
      StructField("__g", sSchema("__g").dataType), StructField("__bkt", LongType),
      StructField("__p", IntegerType), StructField("__resid", LongType),
      StructField("__off", LongType), StructField("__offs", decType),
      StructField("__pt", LongType), StructField("__pts", decType),
      StructField("__tot", LongType), StructField("__tots", decType),
      StructField("__dhi", DoubleType))
    val (degT, liveT) = targets.partition(t => t.b.vmin == t.b.vmax)
    val liveDf = spark.createDataFrame(
      java.util.Arrays.asList(liveT.map(t => Row(t.g, t.b.bkt, t.p, t.resid,
        t.off, t.offs, t.b.c, t.b.s, t.tot, t.tots, t.dhi)): _*),
      StructType(tgtFields))
    val injDf = spark.createDataFrame(
      java.util.Arrays.asList(degT.map(t => Row(t.g, t.b.bkt, t.b.vmin, t.p,
        t.resid, t.off, t.offs, t.b.c, t.b.s, t.tot, t.tots, t.dhi,
        t.b.c)): _*),
      StructType(tgtFields.take(2) ++
        Seq(StructField("v", DoubleType)) ++ tgtFields.drop(2) :+
        StructField("__w", LongType)))
    val sliceCols = Seq("__g", "__bkt", "v", "__p", "__resid",
      "__off", "__offs", "__pt", "__pts", "__tot", "__tots", "__dhi", "__w").map(col)
    val sliceIn = base.join(broadcast(liveDf), Seq("__g", "__bkt"))
      .withColumn("__w", lit(1L))
      .select(sliceCols: _*)
      .unionByName(injDf)

    // ---- THE slice scan: cuts, corrections and MAD in one data pass ----
    // Only non-degenerate target-bucket rows survive the broadcast join
    // (≤ |pcts| cut copies + one annulus copy each), plus the injected
    // point-mass summary rows. Window choreography, all within this one
    // job over the tiny slice:
    //   1. per-(g, p) value order → running weight → cut picks;
    //   2. a (g) window spreads the p50 pick (the exact median) to the
    //      annulus rows, which only then can compute |v − med|;
    //   3. per-(g, -1) deviation order → running weight → the MAD pick.
    // Rows at exactly a cut contribute dec2(cut) on either side of the
    // clamp, so their below/above classification cannot matter.
    val wPick = Window.partitionBy(col("__g"), col("__p"))
    val wSlice = wPick.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDev = wPick.orderBy(col("__dev"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wG = Window.partitionBy(col("__g"))
    // ONE exchange for the whole slice phase: hash(g) satisfies every
    // window here — the (g, p) windows cluster by a superset, the median
    // spread (wG) needs (g) anyway, and the final per-group aggregate
    // reuses it too. Without this the planner exchanges (g, p) → (g) →
    // sort, one extra shuffle of the slice. Per-group slice work being
    // single-task is inherent to the median spread (wG) and bounded by
    // the slice, not the data.
    val sl = sliceIn.repartition(col("__g"))
      .withColumn("__cum", sum(col("__w")).over(wSlice))
      .withColumn("__pick", min(when(col("__p") =!= -1 && col("__cum") >= col("__resid"),
        col("v"))).over(wPick))
      .withColumn("__medv", max(when(col("__p") === 50, col("__pick"))).over(wG))
      .withColumn("__dev", when(col("__p") === -1, abs(col("v") - col("__medv"))))
      .filter(col("__p") =!= -1 || col("__dev") <= col("__dhi"))
      .withColumn("__cumd", sum(when(col("__p") === -1, col("__w"))).over(wDev))
      .withColumn("__madpick", min(when(col("__p") === -1 && col("__cumd") >= col("__resid"),
        col("__dev"))).over(wPick))

    // ---- assemble: ONE per-group aggregation, pure algebra after ------
    // Bit-grid ordering makes the full-bucket parts of the winsorized sum
    // exact: every row in a bucket below the p05 bucket is strictly < p05
    // (so clamps to it) and every row above the p95 bucket strictly > p95.
    val cuts = sl.groupBy(col("__g")).agg(
      max(col("__tot")).as("__n"),
      max(when(col("__p") === 5, col("__pick"))).as("__p05"),
      max(when(col("__p") === 50, col("__pick"))).as("__med"),
      max(when(col("__p") === 95, col("__pick"))).as("__p95"),
      max(col("__madpick")).as("__mad_raw"),
      sum(when(col("__p") === 5 && col("v") < col("__pick"), 1L).otherwise(0L)).as("__b5c"),
      sum(when(col("__p") === 5 && col("v") < col("__pick"), dec2(col("v"))).otherwise(dec0)).as("__b5s"),
      sum(when(col("__p") === 95 && col("v") > col("__pick"), 1L).otherwise(0L)).as("__a95c"),
      sum(when(col("__p") === 95 && col("v") > col("__pick"), dec2(col("v"))).otherwise(dec0)).as("__a95s"),
      max(when(col("__p") === 5, col("__off"))).as("__off5"),
      max(when(col("__p") === 5, col("__offs"))).as("__offs5"),
      max(when(col("__p") === 95, col("__off"))).as("__off95"),
      max(when(col("__p") === 95, col("__offs"))).as("__offs95"),
      max(when(col("__p") === 95, col("__pt"))).as("__pt95"),
      max(when(col("__p") === 95, col("__pts"))).as("__pts95"),
      max(col("__tots")).as("__tots"))
    val nBelow = col("__off5") + col("__b5c")
    val sBelow = col("__offs5") + col("__b5s")
    val nAbove = col("__n") - col("__off95") - col("__pt95") + col("__a95c")
    val sAbove = col("__tots") - col("__offs95") - col("__pts95") + col("__a95s")
    val wsum = dec2(col("__p05")) * nBelow + dec2(col("__p95")) * nAbove +
      (col("__tots") - sBelow - sAbove)
    cuts
      .select(
        col("__g").as(groupCol),
        col("__n").as("n"),
        col("__p05").as("p05"),
        col("__med").as("median"),
        col("__p95").as("p95"),
        round(col("__mad_raw"), 6).as("mad"),
        round(wsum.cast(DoubleType) / col("__n"), 6).as("wins_mean"))
      .orderBy(groupCol)
  }

  /** Row-level robust outlier flags — the APPLY face of [[robustStats]]:
    * flag every row whose value sits more than `k` MADs from its group's
    * median (the modified-z-score gate; median/MAD instead of mean/std so
    * a 1%-garbage column can't hide its own outliers by inflating the
    * std — the reason curation pipelines never gate on plain z). Returns
    * only the FLAGGED rows (id, group, value, robust_z = dev/MAD), the
    * drop-list shape a pipeline writes next to the kept corpus.
    *
    * Decision algebra is exact: the median is an actual data value and
    * MAD an actual deviation (discrete selection, integer-valued for
    * integer inputs), so `dev > k·mad` compares exactly-representable
    * doubles — no interpolation noise at the cut. A degenerate group
    * (MAD = 0: >half the group sits on one value) flags ANY deviation
    * (`dev > 0`) and surfaces `robust_z` as NULL rather than ∞ — visible,
    * not poisoned.
    *
    * Scale shape: [[robustStats]]'s two barrier jobs produce the
    * |groups|-bounded (median, mad) table, which BROADCASTS back onto one
    * more pruned scan — flagging is map-side expression work, no shuffle
    * after the stats. Inherits the determinism precondition (the stats
    * passes and the flag pass re-scan the source). */
  def robustOutliers(
      df: DataFrame, groupCol: String, value: Column, idCol: String,
      k: Double = 3.0): DataFrame = {
    require(k > 0, s"robustOutliers: need k > 0, got $k")
    val stats = robustStats(df, groupCol, value)
      .select(col(groupCol), col("median"), col("mad"))
    val dev = abs(col("v") - col("median"))
    df.select(col(idCol), col(groupCol), value.cast(DoubleType).as("v"))
      .filter(col("v").isNotNull)
      .join(broadcast(stats), groupCol)
      .filter(dev > lit(k) * col("mad"))
      .select(col(idCol), col(groupCol), col("v"),
        when(col("mad") > 0, round(dev / col("mad"), 6)).as("robust_z"))
      .orderBy(idCol)
  }

  /** Neyman-allocation stratified sampling: a total budget of
    * `totalSamples` rows split across strata ∝ N_h·σ_h (bigger, more
    * variable strata get more samples — the minimum-variance allocation
    * for estimating the population mean), then drawn per stratum with the
    * repo's deterministic integer hash cut
    * ([[graft.functions.PortableHash.keyHash]] — overflow-safe for
    * arbitrary BIGINT keys).
    *
    * Portability: σ_h is rounded to 6 dp BEFORE allocation (a raw
    * one-pass stddev differs across engines in the last bits), and the
    * Σ N_h·σ_h normalizer is summed in exact decimal so the per-stratum
    * rates are bit-identical everywhere. Shape: per-stratum stats (one
    * shuffle), a |strata|-sized broadcast, one sampling scan. */
  def neymanSample(
      df: DataFrame,
      stratumCol: String,
      value: Column,
      hashKey: Column,
      totalSamples: Long): DataFrame = {
    val base = df.select(
      col(stratumCol).as("__s"), value.cast(DoubleType).as("__v"),
      graft.functions.PortableHash.keyHash(hashKey).as("__u"))
    val stats = base.groupBy("__s").agg(
      count(lit(1)).as("n_rows"),
      round(stddev_samp(col("__v")), 6).as("sigma"))
    val tot = stats.agg(
      sum(col("n_rows") * col("sigma").cast("decimal(18,6)")).as("__w"))
    val rated = stats.crossJoin(broadcast(tot))
      .withColumn("rate",
        least(lit(1.0),
          lit(totalSamples.toDouble) * (col("n_rows").cast(DoubleType) * col("sigma"))
            / col("__w").cast(DoubleType) / col("n_rows").cast(DoubleType)))
      .withColumn("__cut", floor(col("rate") * lit(1000000007.0)).cast(LongType))
    val kept = base
      .join(broadcast(rated.select(col("__s"), col("__cut"))), "__s")
      .filter(col("__u") < col("__cut"))
      .groupBy("__s").agg(count(lit(1)).as("n_kept"))
    rated.join(kept, Seq("__s"), "left")
      .select(col("__s").as(stratumCol), col("n_rows"), col("sigma"),
        round(col("rate"), 6).as("rate"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(stratumCol)
  }

  /** Per-group weighted values at rank targets `⌈pct·W/100⌉` (W = total
    * weight) over `(__g, v, w)` rows — distributed histogram selection on
    * the fixed order-preserving bit grid ([[graft.functions.BitGrid]]):
    * bucketing is a pure function of the value bits, so there is NO
    * bounds pass — the per-(group, bucket) weight summary is the first
    * scan and the target-bucket slice the second. The bucket id is
    * computed on `v.cast(double)` for steering only (a monotone cast:
    * distinct values that collapse share a bucket, which only widens a
    * slice); the selected value is the original `v`. Groups whose total
    * weight is zero (or all-null `v`) produce no rank bracket and are
    * dropped, matching the [[weightedMedian]] contract. PRECONDITION:
    * `rowsRaw` must be deterministic across re-evaluation — the summary
    * and the slice are two scans of it (see [[robustStats]]). */
  private[operators] def bitValuesAtRanks(
      rowsRaw: DataFrame, pcts: Seq[Int],
      extraSums: Seq[String] = Nil,
      // rank target per (pct label, group total weight) — the default is
      // the percentile rule ⌈p·W/100⌉; callers selecting an ABSOLUTE
      // order statistic (the conformal ⌈(n+1)·cover/100⌉ rule) override
      // it and use the pct purely as the output-column label. A target
      // outside [1, W] finds no bracket and the group drops (contract).
      rankFor: (Int, Long) => Long = (p, tot) => (p.toLong * tot + 99) / 100)
      : DataFrame = {
    import graft.functions.BitGrid.bitBucket
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100))
    requireDeterministicInput(rowsRaw, "bitValuesAtRanks")
    val rows = rowsRaw.filter(col("v").isNotNull)
      .withColumn("__bkt", bitBucket(col("v").cast(DoubleType)))
    // The ONE full scan: the per-(group, bucket) weight summary with each
    // bucket's ACTUAL [vmin, vmax] on the ORIGINAL value domain,
    // COLLECTED — grid-bounded (the bit grid has <= 2^18 cells over ALL
    // doubles), and the slice join broadcasts the derived targets anyway,
    // so the rank-bracket arithmetic runs driver-side on the same table
    // (the robustStats argument; the former checkpoint + windows +
    // explode chain paid three extra barrier jobs for the same rows).
    // `extraSums` columns (LongType, by name) ride this same scan as
    // map-side partial sums — a caller needing Σ of a companion column
    // (Mann–Kendall's S over the pair rows) gets it for free instead of
    // paying one more regeneration of an expensive input; summed over
    // the non-null-`v` rows only, per group, exact long arithmetic.
    val sumAggs = Seq(sum(col("w")).as("__c"),
      min(col("v")).as("__vmin"), max(col("v")).as("__vmax")) ++
      extraSums.map(c => sum(col(c)).as(s"__es_$c"))
    val summary = rows.groupBy(col("__g"), col("__bkt"))
      .agg(sumAggs.head, sumAggs.tail: _*)
    val sSchema = summary.schema
    final case class T(g: Any, bkt: Long, p: Int, resid: Long, tot: Long,
      vmin: Any, vmax: Any, c: Long)
    val collected = collectSummary(summary, "bitValuesAtRanks")
    val targets = collected
      .groupBy(_.get(0)).iterator.flatMap {
      case (g, rs) =>
        val bs = rs.sortBy(_.getLong(1)) // bucket order IS value order
        val off = bs.scanLeft(0L)(_ + _.getLong(2))
        val tot = off.last
        pcts.flatMap { p =>
          val r = rankFor(p, tot)
          // zero-weight groups have no bracket and are DROPPED (contract)
          bs.indices.find(i => off(i) < r && r <= off(i) + bs(i).getLong(2))
            .map(i => T(g, bs(i).getLong(1), p, r - off(i), tot,
              bs(i).get(3), bs(i).get(4), bs(i).getLong(2)))
        }
    }.toArray
    // Point-mass split: a DEGENERATE target bucket (vmin = vmax — a point
    // mass; half-zeros columns are normal data) holds one value, so the
    // rank inside it can only select that value — it enters the slice as
    // ONE injected LOCAL row (the common value, the bucket weight) and
    // NO row of the bucket crosses the join. Without this, a heavy point
    // mass routes ~all of a group's rows through one (g, p) window task
    // at any scale; with it, only genuinely multi-valued buckets ever pay
    // a slice. Correctness is uniform: each (g, p) slice is exactly one
    // bucket, and for an injected row the weighted cumulative crosses the
    // rank residual inside its run iff the true rank falls there.
    val (degT, liveT) = targets.partition(t => t.vmin == t.vmax)
    val liveSchema = StructType(Seq(
      sSchema("__g").copy(name = "__g"), StructField("__bkt", LongType),
      StructField("__p", IntegerType), StructField("__resid", LongType),
      StructField("__tot", LongType)))
    val liveDf = rowsRaw.sparkSession.createDataFrame(
      java.util.Arrays.asList(liveT.map(t =>
        Row(t.g, t.bkt, t.p, t.resid, t.tot)): _*), liveSchema)
    val injDf = rowsRaw.sparkSession.createDataFrame(
      java.util.Arrays.asList(degT.map(t =>
        Row(t.g, t.bkt, t.vmin, t.c, t.p, t.resid, t.tot)): _*),
      StructType(liveSchema.fields.take(2) ++
        Seq(StructField("v", sSchema("__vmin").dataType),
          StructField("w", sSchema("__c").dataType)) ++
        liveSchema.fields.drop(2)))
    val sliceCols = Seq("__g", "__bkt", "v", "w", "__p", "__resid", "__tot").map(col)
    val wSlice = Window.partitionBy(col("__g"), col("__p")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val aggs = max(col("__tot")).as("n") +: pcts.map(p =>
      min(when(col("__p") === p && col("__cum") >= col("__resid"), col("v"))).as(s"q_$p"))
    val base = rows.join(broadcast(liveDf), Seq("__g", "__bkt"))
      .select(sliceCols: _*)
      .unionByName(injDf)
      .withColumn("__cum", sum(col("w")).over(wSlice))
      .groupBy(col("__g"))
      .agg(aggs.head, aggs.tail: _*)
    if (extraSums.isEmpty) base
    else {
      // per-group extra totals folded driver-side from the ALREADY
      // collected summary (exact long addition, order-free), broadcast
      // back onto the |groups|-sized output
      val exSchema = StructType(sSchema("__g").copy(name = "__g") +:
        extraSums.map(c => StructField(s"__es_$c", LongType, nullable = false)))
      val exRows = collected.groupBy(_.get(0)).map { case (g, rs) =>
        Row.fromSeq(g +: extraSums.indices.map { k =>
          rs.iterator.map(r =>
            if (r.isNullAt(5 + k)) 0L else r.getLong(5 + k)).sum
        })
      }.toSeq
      val exDf = rowsRaw.sparkSession.createDataFrame(
        java.util.Arrays.asList(exRows: _*), exSchema)
      base.join(broadcast(exDf), Seq("__g"))
    }
  }

  /** Weighted (lower) median per group: the smallest value whose
    * cumulative weight reaches half the group's total — e.g. the
    * quantity-weighted median price (`⌈tot/2⌉ = ⌈50·tot/100⌉`, so this is
    * [[bitValuesAtRanks]] at pct 50 with the weight as multiplicity).
    * Discrete (an actual data value), so the result is bit-portable.
    * Raw weighted rows feed the distributed rank selection directly (no
    * per-(group, value) pre-aggregation — rank selection is tie-invariant,
    * and for a continuous value column a distinct pass buys nothing, so
    * slice sizes are bounded by target-bucket ROW counts); a
    * group-partitioned cumulative window here would cap parallelism at
    * |groups| (3 return flags = 3 tasks however large the cluster), the
    * small-group-domain twin of the single-task global window. The
    * summary collect is ceiling-guarded ([[MaxSummaryRows]]) and the
    * determinism precondition enforced ([[requireDeterministicInput]]).
    *
    * Degenerate weights: a group whose total weight is 0 (all weights
    * zero or null) has rank target 0, matches no bucket bracket, and is
    * DROPPED from the output — there is no weighted median of nothing.
    * Null `value` rows are likewise ignored (see [[bitValuesAtRanks]]). */
  def weightedMedian(
      df: DataFrame, groupCol: String, value: Column, weight: Column): DataFrame = {
    // Not materialized: the selection's two passes re-scan the source,
    // and a pruned two-column parquet scan is cheaper than a checkpoint
    // write + read round-trip (measured both ways at sf0.1). On the bit
    // grid those two passes are ALL there is — the former bounds pass is
    // gone.
    val rows = df
      .select(col(groupCol).as("__g"), value.as("v"), weight.cast(LongType).as("w"))
      .filter(col("v").isNotNull)
    bitValuesAtRanks(rows, Seq(50))
      .select(col("__g").as(groupCol), col("q_50").as("w_median"))
      .orderBy(groupCol)
  }

  /** [[weightedMedian]] plus exact long sums of companion columns riding
    * the SAME grid-summary scan — for callers whose input is expensive
    * to regenerate and who otherwise pay one more full pass just to
    * total a column: Mann–Kendall consumes its O(days²) pair domain for
    * BOTH the Sen-median selection and the S = Σ sign aggregation, and
    * the selection's summary pass already reads every pair row, so S is
    * one more map-side long riding it (one fewer broadcast-nested-loop
    * regeneration; measured in tools/ProbeMk at 89034bd). Returns
    * `(groupCol, w_median, n_rows, <name>...)` — n_rows is the group's
    * total weight; each <name> is Σ cast-to-long of its column over the
    * group's non-null-`value` rows. Groups with zero total weight DROP
    * (the [[weightedMedian]] contract). */
  def weightedMedianWithSums(
      df: DataFrame, groupCol: String, value: Column, weight: Column,
      sums: Seq[(String, Column)]): DataFrame = {
    require(sums.nonEmpty, "weightedMedianWithSums: use weightedMedian for no sums")
    val rows = df.select(Seq(col(groupCol).as("__g"), value.as("v"),
        weight.cast(LongType).as("w")) ++
        sums.map { case (n, c) => c.cast(LongType).as(s"__x$n") }: _*)
      .filter(col("v").isNotNull)
    bitValuesAtRanks(rows, Seq(50), sums.map { case (n, _) => s"__x$n" })
      .select(Seq(col("__g").as(groupCol), col("q_50").as("w_median"),
        col("n").as("n_rows")) ++
        sums.map { case (n, _) => col(s"__es___x$n").as(n) }: _*)
      .orderBy(groupCol)
  }

  /** Ceiling for the single-row contingency collapses
    * ([[mutualInformation]], [[chiSquare]], [[kendallTauB]]): each folds
    * O(cells²) over ONE collected array, so the bounded |X|·|Y| domain is
    * a hard precondition — 8192 cells ⇒ ≤ ~67M fold steps, the practical
    * limit for the one-row fold. A violation (someone passing a
    * continuous column) must fail LOUDLY, not materialize an unbounded
    * single row and melt the driver — the `theta_is_estimation`
    * fail-loud discipline applied to the O(cells²) family. */
  val MaxContingencyCells = 8192

  /** A core's segment column, renamed `__g` (none for the global form). */
  private def segCols(by: Seq[String]): Seq[Column] = by.map(c => col(c).as("__g"))

  /** A core's segment key names: `__g`, or none for the global form. */
  private def segKeys(by: Seq[String]): Seq[String] = by.map(_ => "__g")

  /** A `By` wrapper's output: the segment back under the caller's name,
    * rows in segment order. */
  private def bySegment(out: DataFrame, byCol: String): DataFrame =
    out.withColumnRenamed("__g", byCol).orderBy(byCol)

  /** Joins a per-segment summary onto `rows`: with no keys the summary is
    * one row and rides a broadcast cross join; with keys it is an inner
    * equi-join on them, broadcast unless `broadcastKeyed` is off. */
  private def attach(rows: DataFrame, summary: DataFrame, keys: Seq[String],
      broadcastKeyed: Boolean = true): DataFrame =
    if (keys.isEmpty) rows.crossJoin(broadcast(summary))
    else rows.join(if (broadcastKeyed) broadcast(summary) else summary, keys)

  /** The (keys…, x, y, cnt) contingency cells of a (keys…, x, y) frame,
    * under a distributed guard enforcing [[MaxContingencyCells]] per
    * segment (`keys` empty: the one global table): checkpoints the cell
    * table once (it also has 2–3 downstream consumers in every caller),
    * counts it distributed, and routes every downstream `cnt` through a
    * raise_error gate keyed on that count — the error fires at execution
    * time, BEFORE the collect_list collapse builds the row. The gate
    * lives inside the `cnt` value path (not a droppable side column), so
    * no pruning rule can optimize it away. The global count rides a
    * broadcast cross join; per-segment counts join on the keys (an inner
    * join, so a null segment drops here). */
  private def guardedCells(xy: DataFrame, keys: Seq[String], op: String): DataFrame = {
    val cells = xy.groupBy((keys ++ Seq("x", "y")).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val nc = cells.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__nc"))
    val (domain, fold) =
      if (keys.isEmpty) ("contingency domain", "single-row")
      else ("a group's contingency domain", "per-group")
    attach(cells, nc, keys, broadcastKeyed = false)
      .select(keys.map(col) ++ Seq(col("x"), col("y"),
        when(col("__nc") > lit(MaxContingencyCells),
          raise_error(concat(
            lit(s"$op: $domain has "), col("__nc"),
            lit(s" cells, over the $MaxContingencyCells ceiling — the" +
              s" O(cells²) $fold fold requires a bounded" +
              " discrete/ordinal domain; bucket or discretize the columns" +
              " first"))).cast(LongType))
          .otherwise(col("cnt")).as("cnt")): _*)
  }

  /** Each segment's cells collapsed to one sorted `cs` array and total
    * `n`, plus `extra` aggregates over the same cells. */
  private def cellArray(cells: DataFrame, keys: Seq[String], extra: Column*): DataFrame =
    cells.groupBy(keys.map(col): _*).agg(
      array_sort(collect_list(struct(col("x"), col("y"), col("cnt")))).as("cs"),
      sum(col("cnt")).as("n") +: extra: _*)

  /** Mutual information (nats) between two categorical columns — the
    * feature-association / leakage probe (does `source` predict `lang`?).
    * The contingency cells aggregate DISTRIBUTED (one keyed shuffle);
    * only the cell table — bounded by |X|·|Y|, not the row count —
    * collapses into one sorted array, and the MI sum folds over it in
    * sorted order so the floating-point result replays bit-identically
    * in the SQL oracle's list fold. Marginals are exact-integer
    * re-aggregations of the same array (O(cells²) work on ONE row,
    * guarded by [[MaxContingencyCells]]). A null x or y is a category. */
  def mutualInformation(df: DataFrame, xCol: String, yCol: String): DataFrame =
    mutualInformationCore(df, Nil, xCol, yCol, "mutualInformation")

  /** Per-`byCol`-segment mutual information — the leakage probe run in
    * EVERY segment (completing the grouped categorical-association trio
    * with [[chiSquareBy]] and [[kendallTauBBy]]: a pooled MI of ~0 can
    * hide segments where X fully determines Y, and vice versa — the
    * mixture artifact the grouped-gate convention exists to expose).
    * Exactly [[mutualInformation]] per segment, each segment's bounded
    * cell table under its own ceiling; rows with a null x or y drop. */
  def mutualInformationBy(
      df: DataFrame, xCol: String, yCol: String, byCol: String): DataFrame =
    bySegment(mutualInformationCore(
      df.filter(col(xCol).isNotNull && col(yCol).isNotNull),
      Seq(byCol), xCol, yCol, "mutualInformationBy"), byCol)

  private def mutualInformationCore(
      df: DataFrame, by: Seq[String], xCol: String, yCol: String, op: String): DataFrame = {
    val keys = segKeys(by)
    val one = cellArray(guardedCells(
      df.select(segCols(by) ++ Seq(col(xCol).as("x"), col(yCol).as("y")): _*),
      keys, op), keys)
    val nD = col("n").cast(DoubleType)
    val mi = aggregate(col("cs"), lit(0.0), (acc, c) => {
      val cnt = c.getField("cnt").cast(DoubleType)
      val px = aggregate(
        filter(col("cs"), x => x.getField("x") === c.getField("x")),
        lit(0L), (a, x) => a + x.getField("cnt")).cast(DoubleType)
      val py = aggregate(
        filter(col("cs"), x => x.getField("y") === c.getField("y")),
        lit(0L), (a, x) => a + x.getField("cnt")).cast(DoubleType)
      acc + (cnt / nD) * log(cnt * nD / (px * py))
    })
    one.select(keys.map(col) ++
      Seq(col("n").as("n_rows"), round(mi, 6).as("mi_nats")): _*)
  }

  /** Pearson chi-square statistic of independence between two categorical
    * columns (the significance companion to [[mutualInformation]]): χ² =
    * Σ (obs − exp)²/exp with exp = row·col/N, plus the degrees of freedom
    * (|X|−1)(|Y|−1). Same scale shape as MI: distributed cell aggregation,
    * then one sorted bounded-size fold so the fp sum replays
    * bit-identically in SQL. A null x or y is a category. */
  def chiSquare(df: DataFrame, xCol: String, yCol: String): DataFrame =
    chiSquareCore(df, Nil, xCol, yCol, "chiSquare")

  /** Per-`byCol`-segment chi-square independence + Cramér's V — "does
    * the X↔Y association hold in EVERY segment, or is the global χ² a
    * mixture artifact?" (Simpson's-paradox screening — an association
    * can reverse inside segments while the pooled table shows none; the
    * grouped-gate convention applied to the categorical-association
    * family next to [[kendallTauBBy]]). Exactly [[chiSquare]] per
    * segment, each segment's cell table under its own ceiling (fail-loud,
    * never a silent mega-fold); rows with a null x or y drop, and
    * single-category axes give NULL V within their segment. */
  def chiSquareBy(df: DataFrame, xCol: String, yCol: String, byCol: String): DataFrame =
    bySegment(chiSquareCore(
      df.filter(col(xCol).isNotNull && col(yCol).isNotNull),
      Seq(byCol), xCol, yCol, "chiSquareBy"), byCol)

  private def chiSquareCore(
      df: DataFrame, by: Seq[String], xCol: String, yCol: String, op: String): DataFrame = {
    val keys = segKeys(by)
    val one = cellArray(guardedCells(
      df.select(segCols(by) ++ Seq(col(xCol).as("x"), col(yCol).as("y")): _*),
      keys, op), keys)
    val nD = col("n").cast(DoubleType)
    val marg = (field: String, c: Column) => aggregate(
      filter(col("cs"), x => x.getField(field) === c.getField(field)),
      lit(0L), (a, x) => a + x.getField("cnt")).cast(DoubleType)
    // Only OBSERVED cells are in the list; a zero cell contributes
    // (0−e)²/e = e, and Σ_grid e = N, so the zero-cell mass is
    // N − Σ_observed e — added in closed form rather than expanding the
    // grid. Both folds run in the same sorted order.
    val chiObs = aggregate(col("cs"), lit(0.0), (acc, c) => {
      val obs = c.getField("cnt").cast(DoubleType)
      val exp = marg("x", c) * marg("y", c) / nD
      acc + (obs - exp) * (obs - exp) / exp
    })
    val expObs = aggregate(col("cs"), lit(0.0), (acc, c) =>
      acc + marg("x", c) * marg("y", c) / nD)
    val nx = size(array_distinct(transform(col("cs"), c => c.getField("x"))))
    val ny = size(array_distinct(transform(col("cs"), c => c.getField("y"))))
    // Cramér's V normalizes χ² to [0, 1] effect size; derived from the
    // 6-dp-ROUNDED χ² so the two-step chain replays identically in SQL.
    // A single-category axis has no association to normalize → NULL.
    val chi2r = round(chiObs + (nD - expObs), 6)
    val minDim = least(nx - 1, ny - 1).cast(DoubleType)
    one.select(keys.map(col) ++ Seq(
      col("n").as("n_rows"),
      ((nx - 1) * (ny - 1)).cast(LongType).as("dof"),
      chi2r.as("chi2"),
      when(minDim > 0, round(sqrt(chi2r / (nD * minDim)), 6)).as("cramers_v")): _*)
  }

  /** Two-proportion z-test between arms A and B: per-arm trial/success
    * counts (exact integers) → pooled-proportion z statistic, every
    * floating-point step spelled once and replayed identically in the
    * oracle. The input is one row per unit with a boolean success flag;
    * everything aggregates to ONE row before any division. */
  def twoProportionZ(units: DataFrame, arm: Column, success: Column): DataFrame =
    twoProportionZCore(units, Nil, arm, success, None)

  /** Per-`byCol`-segment two-proportion z — the CONVERSION-rate member
    * of the grouped A/B family ([[welchTBy]] means, [[mannWhitneyUBy]]
    * ranks, [[graft.operators.Bootstrap.bootstrapUpliftCiBy]] effect
    * CI — the rate test was the one gate still global-only): "does the
    * conversion uplift hold in EVERY segment?". Exactly
    * [[twoProportionZ]] with the segment riding the single keyed
    * aggregation; segments missing either arm have no two-sample
    * statistic and DROP (the grouped-gate contract). A segment whose
    * pooled rate is 0 or 1 yields the same NaN/±Inf z as the global
    * operator — both engines spell the identical chain. */
  def twoProportionZBy(
      units: DataFrame, arm: Column, success: Column, byCol: String): DataFrame =
    bySegment(twoProportionZCore(units, Seq(byCol), arm, success,
      Some(col("n_a") > 0 && col("n_b") > 0)), byCol)

  private def twoProportionZCore(units: DataFrame, by: Seq[String], arm: Column,
      success: Column, keep: Option[Column]): DataFrame = {
    val agg0 = units
      .select(segCols(by) ++ Seq(arm.as("__arm"), success.cast(LongType).as("__s")): _*)
      .groupBy(segKeys(by).map(col): _*)
      .agg(
        sum(when(col("__arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__arm") === 0, col("__s")).otherwise(0L)).as("conv_a"),
        sum(when(col("__arm") =!= 0, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("__arm") =!= 0, col("__s")).otherwise(0L)).as("conv_b"))
    val agg = keep.fold(agg0)(agg0.filter(_))
    val (na, ca, nb, cb) = (
      col("n_a").cast(DoubleType), col("conv_a").cast(DoubleType),
      col("n_b").cast(DoubleType), col("conv_b").cast(DoubleType))
    val p = (ca + cb) / (na + nb)
    val z = (ca / na - cb / nb) / sqrt(p * (lit(1.0) - p) * (lit(1.0) / na + lit(1.0) / nb))
    agg.select(segKeys(by).map(col) ++ Seq(
      col("n_a"), col("conv_a"), col("n_b"), col("conv_b"), round(z, 6).as("z_stat")): _*)
  }

  /** Welch's two-sample t statistic (unequal variances) with
    * Welch–Satterthwaite degrees of freedom — the means-comparison
    * companion to [[twoProportionZ]] for continuous metrics (mean order
    * value per arm, mean doc quality per source).
    *
    * Bit-portability discipline: per-arm n/Σv/Σv² aggregate in EXACT
    * decimal (sums are order-free, so partition order can't change the
    * result), collapse to one row, and only then run one fixed chain of
    * double arithmetic — mean, s² = (Σv² − (Σv)²/n)/(n−1), t, df — that
    * the SQL oracle spells identically. */
  def welchT(units: DataFrame, arm: Column, value: Column): DataFrame =
    welchTCore(units, Nil, arm, value, None)

  /** Per-`byCol`-segment Welch t — "is the A/B effect uniform across
    * segments, or driven by one?" (the heterogeneous-treatment-effect
    * screen every experiment review runs after the global read). The
    * global exact-decimal moment algebra with the segment riding the one
    * keyed aggregation — six decimal moments per segment, one double
    * chain per row, nothing data-sized after the shuffle. Segments
    * without ≥ 2 rows in EACH arm have no defined variance and are
    * DROPPED (the [[ksStatisticBy]] missing-side contract: a gate must
    * not read a one-row arm as evidence). */
  def welchTBy(
      units: DataFrame, arm: Column, value: Column, byCol: String): DataFrame =
    bySegment(welchTCore(units, Seq(byCol), arm, value,
      Some(col("n_a") > 1 && col("n_b") > 1)), byCol)

  private def welchTCore(units: DataFrame, by: Seq[String], arm: Column,
      value: Column, keep: Option[Column]): DataFrame = {
    val v = dec2(value)
    val agg0 = units
      .select(segCols(by) ++ Seq(arm.as("__arm"), v.as("__v"), (v * v).as("__vv")): _*)
      .groupBy(segKeys(by).map(col): _*)
      .agg(
        sum(when(col("__arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__arm") === 0, col("__v"))).as("__s_a"),
        sum(when(col("__arm") === 0, col("__vv"))).as("__ss_a"),
        sum(when(col("__arm") =!= 0, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("__arm") =!= 0, col("__v"))).as("__s_b"),
        sum(when(col("__arm") =!= 0, col("__vv"))).as("__ss_b"))
    val agg = keep.fold(agg0)(agg0.filter(_))
    val (na, nb) = (col("n_a").cast(DoubleType), col("n_b").cast(DoubleType))
    val (sa, sb) = (col("__s_a").cast(DoubleType), col("__s_b").cast(DoubleType))
    val (ssa, ssb) = (col("__ss_a").cast(DoubleType), col("__ss_b").cast(DoubleType))
    val ma = sa / na
    val mb = sb / nb
    val va = (ssa - sa * sa / na) / (na - lit(1.0))
    val vb = (ssb - sb * sb / nb) / (nb - lit(1.0))
    val sea = va / na
    val seb = vb / nb
    val t = (ma - mb) / sqrt(sea + seb)
    val df = (sea + seb) * (sea + seb) /
      (sea * sea / (na - lit(1.0)) + seb * seb / (nb - lit(1.0)))
    agg.select(segKeys(by).map(col) ++ Seq(
      col("n_a"), col("n_b"),
      round(ma, 6).as("mean_a"), round(mb, 6).as("mean_b"),
      round(t, 6).as("t_stat"), round(df, 6).as("welch_df")): _*)
  }

  /** One-way ANOVA F across the k groups of `groupCol` — the K-SAMPLE
    * extension of [[welchT]] (two arms generalize to "does the metric
    * differ across ANY of the k segments?" — priorities, sources,
    * shards; the screening question BEFORE pairwise tests + FDR).
    * Classic decomposition F = (SSB/(k−1)) / (SSW/(N−k)) with SSB =
    * Σ S_j²/n_j − T²/N and SSW = Σv² − Σ S_j²/n_j.
    *
    * Scale + exactness shape — the [[welchT]] discipline k-wide: ONE
    * keyed aggregation collects per-group (n, Σv, Σv²) as exact
    * DECIMAL moments (map-side combined, ≤ k rows through the
    * shuffle), the ≤ k-row summary folds in SORTED group order so the
    * floating-point Σ S_j²/n_j replays bit-identically in SQL, and the
    * F chain is spelled once. Groups with n < 1 cannot occur; the
    * statistic is NULL when df2 ≤ 0 (k ≥ N) or SSW = 0 (all groups
    * constant) — fail-soft, the counts tell the story. */
  def anovaF(df: DataFrame, value: Column, groupCol: Column): DataFrame = {
    val v = dec2(value)
    val groups = df.select(groupCol.cast("string").as("__g"), v.as("__v"))
      .filter(col("__v").isNotNull && col("__g").isNotNull)
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n"), sum(col("__v")).as("s"),
        sum(col("__v") * col("__v")).as("ss"))
    anovaFold(groups, "f_stat")
  }

  /** The shared k-row fold + F chain behind [[anovaF]] and
    * [[brownForsythe]]: `groups` is (__g, n, s, ss) with exact s/ss.
    * One sorted bounded fold — k is segment-bounded (the guardedCells
    * argument: a metric crossed with a segment axis, not row-sized). */
  private def anovaFold(groups: DataFrame, statName: String): DataFrame = {
    val one = groups.agg(
      array_sort(collect_list(struct(col("__g"), col("n"), col("s"), col("ss")))).as("gs"),
      count(lit(1)).as("k"), sum(col("n")).as("n_rows"),
      sum(col("s")).as("t"), sum(col("ss")).as("tss"))
    val nD = col("n_rows").cast(DoubleType)
    val kD = col("k").cast(DoubleType)
    val sbRaw = aggregate(col("gs"), lit(0.0), (acc, g) =>
      acc + g.getField("s").cast(DoubleType) * g.getField("s").cast(DoubleType)
        / g.getField("n").cast(DoubleType))
    val ssb = sbRaw - col("t").cast(DoubleType) * col("t").cast(DoubleType) / nD
    val ssw = col("tss").cast(DoubleType) - sbRaw
    val f = (ssb / (kD - lit(1.0))) / (ssw / (nD - kD))
    one.select(
      col("k"), col("n_rows"),
      round(when(col("n_rows") > col("k") && ssw > 0, f), 6).as(statName),
      (col("k") - 1).as("df1"), (col("n_rows") - col("k")).as("df2"))
  }

  /** Kruskal–Wallis H across the k groups of `groupCol` — the
    * NONPARAMETRIC k-sample companion to [[anovaF]] (rank-based, the
    * right screen when the metric is skewed, which revenue and
    * engagement always are), generalizing [[mannWhitneyU]]'s exact
    * doubled-rank algebra to k groups: with average-rank ties,
    * 2·R_j = Σ_v c_jv·(2·below(v) + t_v + 1) is an exact integer per
    * group, H = [12/(N(N+1))·Σ R_j²/n_j − 3(N+1)] / (1 − Σ(t³−t)/(N³−N)).
    *
    * Scale shape: per-(group, value) counts and per-value totals are
    * two aggregations of one pass domain; below-counts ride the
    * two-level scan ([[runningTotals]]) over the DISTINCT-value table,
    * the (group, value) counts join back on the value key
    * (domain-sized), and per-group doubled rank sums aggregate in
    * DECIMAL(38,0) (the decimal-before-multiply discipline — BIGINT
    * dies at the tie/row scales this algebra exists for). The ≤ k-row
    * summary folds in sorted group order; ONE double conversion per
    * term. H is NULL when every value is tied (the correction
    * denominator hits 0). */
  def kruskalWallis(df: DataFrame, value: Column, groupCol: Column): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df.select(groupCol.cast("string").as("__g"), value.as("v"))
      .filter(col("v").isNotNull && col("__g").isNotNull)
    val perGV = base.groupBy(col("__g"), col("v")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // two consumers: per-value totals + the join back
    val perV = perGV.groupBy(col("v")).agg(sum(col("c")).as("ct"))
    val t = col("ct").cast(dec38)
    val ranked = runningTotals(perV.select(col("v"), col("ct").as("ca")), Seq("ca"))
      .select(col("v"), col("ca").as("ct"), (col("cum_ca") - col("ca")).as("below"),
        (t * t * t - t).as("tie3"))
    // doubled rank sum per group: exact integer in DECIMAL(38,0)
    val r2 = perGV.join(ranked, "v")
      .groupBy(col("__g"))
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast(dec38) *
          (col("below").cast(dec38) * 2 + col("ct") + 1)).as("r2"))
    val ties = ranked.agg(sum(col("tie3")).as("tie3"))
    val one = r2.agg(
      array_sort(collect_list(struct(col("__g"), col("n"), col("r2")))).as("gs"),
      count(lit(1)).as("k"), sum(col("n")).as("n_rows"))
      .crossJoin(broadcast(ties))
    val nD = col("n_rows").cast(DoubleType)
    // Σ R_j²/n_j with R_j = r2/2: fold in sorted order, one conversion
    // per term (r2²/4 stays in the double — spelled identically in SQL)
    val sr = aggregate(col("gs"), lit(0.0), (acc, g) =>
      acc + g.getField("r2").cast(DoubleType) * g.getField("r2").cast(DoubleType)
        / (lit(4.0) * g.getField("n").cast(DoubleType)))
    val hRaw = lit(12.0) / (nD * (nD + lit(1.0))) * sr - lit(3.0) * (nD + lit(1.0))
    val corr = lit(1.0) - col("tie3").cast(DoubleType) / (nD * nD * nD - nD)
    one.select(
      col("k"), col("n_rows"),
      round(when(corr > 0, hRaw / corr), 6).as("h_stat"),
      (col("k") - 1).as("df"))
  }

  /** Brown–Forsythe test across the k groups of `groupCol` — the
    * variance-homogeneity screen that belongs BEFORE [[anovaF]] (whose F
    * assumes equal group variances): Levene's test with MEDIAN centering,
    * i.e. the one-way ANOVA F recomputed on z = |x − median(group)|.
    * Median centering (Brown & Forsythe 1974) keeps the test robust on
    * skewed metrics, which revenue always is — mean centering (classic
    * Levene) inflates the statistic under skew.
    *
    * Exactness: the per-group median is the repo's DISCRETE rank-⌈n/2⌉
    * pick (an actual cents value, as in [[robustStats]]), so z stays
    * exact DECIMAL cents and the delegated [[anovaF]] moment algebra is
    * exact up to its one final double chain.
    *
    * Scale shape: medians are NOT a per-group sort window (row-sized
    * input partitioned k ways = the single-task scale-killer) — per-
    * (group, value) counts aggregate distributed, the cumulative counts
    * ride the grouped two-level scan ([[runningTotalsBy]]), and the rank
    * bracket `cum ≥ m > cum − c` picks each median. The z-moments then
    * come from the SAME value-domain table, count-weighted in exact
    * integer CENTS (Σ c·|v−med|·100, Σ c·(100(v−med))² — F is invariant
    * to the cents scaling since numerator and denominator both carry
    * 10⁴) — raw rows are scanned exactly once, for the per-(group,
    * value) counts; nothing row-sized moves after that. */
  def brownForsythe(df: DataFrame, value: Column, groupCol: Column): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df.select(groupCol.cast("string").as("__g"), dec2(value).as("v"))
      .filter(col("v").isNotNull && col("__g").isNotNull)
    val perGV = base.groupBy(col("__g"), col("v")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // consumers: the scan, per-group n, z-moments
    val cum = runningTotalsBy(perGV, Seq("__g"), Seq("c"))
    val nPer = perGV.groupBy(col("__g")).agg(sum(col("c")).as("__n"))
    val med = cum.join(broadcast(nPer), "__g")
      .withColumn("__m", expr("(__n + 1) div 2"))
      .filter(col("cum_c") >= col("__m") && col("cum_c") - col("c") < col("__m"))
      .select(col("__g"), col("v").as("__med"))
    val zmom = perGV.join(broadcast(med), "__g")
      .select(col("__g"), col("c"),
        (abs(col("v") - col("__med")) * 100).cast(dec38).as("__zc"))
      .groupBy(col("__g"))
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast(dec38) * col("__zc")).as("s"),
        sum(col("c").cast(dec38) * col("__zc") * col("__zc")).as("ss"))
    anovaFold(zmom, "w_stat")
  }

  /** Cochran–Armitage trend test — the ORDERED-category companion to
    * [[chiSquare]]: chi-square asks "is the success rate independent of
    * the category?"; this asks the sharper monotone question "does it
    * TREND with the category's order?" (fulfillment rate by priority
    * tier, quality-pass rate by source tier), concentrating all its
    * power on the one df that matters. With integer scores w_i, trials
    * n_i and successes s_i per category: T = Σw_i(s_i − n_i·S/N),
    * Var = p(1−p)(Σw_i²n_i − (Σw_i n_i)²/N), z = T/√Var.
    *
    * Exactness: everything is scaled through by N to integers —
    * A = N·Σw s − S·Σw n and B = N·Σw²n − (Σw n)², both exact
    * DECIMAL(38,0) (S(N−S)·B ≤ k²N⁴/4 holds to N ≈ 10⁹ rows at k ≤ 9
    * scores) — and z = A/√(S(N−S)·B/N) is ONE double chain the oracle
    * replays. z is NULL when successes are degenerate (S = 0 or S = N)
    * or all rows share one score (B = 0) — fail-soft, counts remain.
    *
    * Scale shape: one keyed aggregation to the k-row score table
    * (map-side combined), one ≤ k-row fold. */
  def cochranArmitage(df: DataFrame, score: Column, success: Column): DataFrame =
    cochranArmitageCore(df, Nil, score, success)

  /** Per-`byCol`-segment Cochran–Armitage — does the ordered trend hold
    * in EVERY segment (per-year: is the priority→fulfillment gradient a
    * structural fact or one era's artifact)? Exactly [[cochranArmitage]]
    * with the segment riding the score aggregation and the ≤ k-row fold
    * per segment. Rows with a null segment drop; degenerate segments
    * (all-success, all-fail, single score) yield a NULL z but keep their
    * counts (the grouped fail-soft convention). */
  def cochranArmitageBy(
      df: DataFrame, score: Column, success: Column, byCol: String): DataFrame =
    bySegment(cochranArmitageCore(
      df.filter(col(byCol).isNotNull), Seq(byCol), score, success), byCol)

  private def cochranArmitageCore(
      df: DataFrame, by: Seq[String], score: Column, success: Column): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val keys = segKeys(by).map(col)
    val g = df.select(segCols(by) ++ Seq(score.cast("long").as("w"),
        success.cast("boolean").as("y")): _*)
      .filter(col("w").isNotNull && col("y").isNotNull)
      .groupBy(keys :+ col("w"): _*)
      .agg(count(lit(1)).cast(dec38).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).cast(dec38).as("s"))
    val one = g.groupBy(keys: _*).agg(
      count(lit(1)).as("k"),
      sum(col("n")).as("nn"), sum(col("s")).as("ss"),
      sum(col("w").cast(dec38) * col("s")).as("ws"),
      sum(col("w").cast(dec38) * col("n")).as("wn"),
      sum(col("w").cast(dec38) * col("w") * col("n")).as("wwn"))
    val e = one.select(keys ++ Seq(col("k"), col("nn"), col("ss"),
      (col("nn") * col("ws") - col("ss") * col("wn")).as("__a"),
      (col("nn") * col("wwn") - col("wn") * col("wn")).as("__b")): _*)
    e.select(keys ++ Seq(
      col("k"),
      col("nn").cast("long").as("n_rows"),
      col("ss").cast("long").as("n_success"),
      round(when(col("ss") > 0 && col("ss") < col("nn") && col("__b") > 0,
        col("__a").cast(DoubleType) /
          sqrt((col("ss") * (col("nn") - col("ss")) * col("__b")).cast(DoubleType) /
            col("nn").cast(DoubleType))), 6).as("z_stat")): _*)
  }

  /** Calibration (reliability) bins of a [0,1] score against a boolean
    * outcome — the classifier-health readout behind every learned
    * quality gate: in each score decile, does the predicted probability
    * match the observed rate? A gate can have a good kappa and still be
    * badly calibrated (systematically over-confident), which matters the
    * moment its score is used as a sampling WEIGHT rather than a
    * threshold.
    *
    * Exactness: the score is 6-dp by the producer's contract (every
    * probability the repo emits is round(·, 6)), so casting to
    * DECIMAL(8,6) recovers the intended value exactly and the per-bin
    * mean is an exact decimal sum with one double division; observed
    * rates are pure integers. One keyed aggregation to ≤ 10 bins. */
  def calibrationBins(df: DataFrame, score: Column, label: Column): DataFrame =
    calibrationBinsCore(df, Nil, score, label).drop("__pos").orderBy(col("bin"))

  /** Per-(segment, bin) reliability stats — n, `avg_pred`, `frac_pos` and
    * the exact positive count `__pos` — shared by [[calibrationBins]],
    * [[expectedCalibrationErrorBy]] and the isotonic fit. */
  private def calibrationBinsCore(
      df: DataFrame, by: Seq[String], score: Column, label: Column): DataFrame = {
    val q = score.cast(org.apache.spark.sql.types.DecimalType(8, 6))
    val bin = least(floor(q * 10).cast("int"), lit(9))
    val keys = segKeys(by).map(col)
    df.select(segCols(by) ++ Seq(bin.as("bin"), q.as("__q"),
        label.cast("boolean").as("__y")): _*)
      .filter(col("__q").isNotNull && col("__y").isNotNull)
      .groupBy(keys :+ col("bin"): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__q")).as("__sq"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__pos"))
      .select(keys ++ Seq(col("bin"), col("n"),
        round(col("__sq").cast(DoubleType) / col("n"), 6).as("avg_pred"),
        round(col("__pos").cast(DoubleType) / col("n"), 6).as("frac_pos"),
        col("__pos")): _*)
  }

  /** Isotonic (pool-adjacent-violators) recalibration of the reliability
    * bins — the monotone remap that turns an over/under-confident score
    * into a usable sampling weight without fitting a parametric curve
    * (Zadrozny & Elkan 2002; Barlow et al. 1972 for PAVA). The
    * distributed work is exactly [[calibrationBins]]' one ≤10-bin
    * aggregation; PAVA itself runs on the collected bin stats — a ≤10
    * element driver fold, model-sized by construction. All pooling
    * decisions compare exact integer cross-products (prev_pos·n >
    * pos·prev_n), never float rates, so the pooled partition — and the
    * unique isotonic fit it induces — is bit-replayable in SQL: the
    * oracle reaches the same fixed point by repeatedly merging adjacent
    * violating pools (≤ 9 unrolled stages for 10 bins; each violating
    * stage merges ≥ 1 pair, and the isotonic L2 projection is unique, so
    * ANY maximal adjacent-pooling order lands on the same fitted rates —
    * correctly-rounded IEEE division makes equal rationals equal
    * doubles). Output: the calibration table (bin, n, avg_pred,
    * frac_pos) plus the monotone `frac_iso` fit. */
  def isotonicCalibration(df: DataFrame, score: Column, label: Column): DataFrame =
    isotonicCalibrationCore(df, Nil, score, label, "isotonicCalibration")

  /** Per-`byCol`-segment isotonic recalibration — the per-source
    * calibration table with its own monotone fit (an over-confidence
    * pattern can be one source's artifact; a pooled remap would smear
    * it). Exactly [[isotonicCalibration]] per segment: per-(segment,
    * bin) stats in the one distributed aggregation (summary ≤
    * |segments|·10 rows, ceiling-guarded), then each segment's own
    * exact-integer stack PAVA. The segment is keyed by its string form;
    * rows with a null segment drop. */
  def isotonicCalibrationBy(
      df: DataFrame, score: Column, label: Column, byCol: String): DataFrame =
    isotonicCalibrationCore(
      df.withColumn(byCol, col(byCol).cast("string")).filter(col(byCol).isNotNull),
      Seq(byCol), score, label, "isotonicCalibrationBy")

  /** Segment columns must be strings: the fit runs on the driver over
    * the collected bin rows. */
  private def isotonicCalibrationCore(df: DataFrame, by: Seq[String], score: Column,
      label: Column, op: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(
      by.map(StructField(_, org.apache.spark.sql.types.StringType, nullable = true)) ++ Seq(
        StructField("bin", IntegerType, nullable = false),
        StructField("n", LongType, nullable = false),
        StructField("avg_pred", DoubleType, nullable = true),
        StructField("frac_pos", DoubleType, nullable = true),
        StructField("frac_iso", DoubleType, nullable = true)))
    val keys = segKeys(by).map(col)
    val binRows = collectSummary(
      calibrationBinsCore(df, by, score, label)
        .select(keys ++ Seq(col("bin"), col("n"), col("avg_pred"), col("__pos").as("pos")): _*),
      op)
    def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    // classic stack PAVA over (pos, n) with exact integer rate compares,
    // one segment at a time (the key prefix is empty for the global form)
    final case class Pool(pos: Long, n: Long, members: List[Int])
    val b = by.size
    val out = binRows.groupBy(r => (0 until b).map(r.getString)).toSeq
      .sortBy(_._1.headOption).flatMap { case (g, rs) =>
        val sorted = rs.sortBy(_.getInt(b))
        val pools = sorted.foldLeft(List.empty[Pool]) { (acc, r) =>
          var st = Pool(r.getAs[Long]("pos"), r.getAs[Long]("n"), List(r.getInt(b))) :: acc
          // merge while the pool below strictly out-rates the one above
          while (st.lengthCompare(2) >= 0 &&
              BigInt(st(1).pos) * st.head.n > BigInt(st.head.pos) * st(1).n) {
            val top :: prev :: rest = st: @unchecked
            st = Pool(prev.pos + top.pos, prev.n + top.n, prev.members ::: top.members) :: rest
          }
          st
        }
        val isoByBin: Map[Int, Double] = pools.flatMap(p =>
          p.members.map(_ -> round6(p.pos.toDouble / p.n.toDouble))).toMap
        sorted.map { r =>
          val bi = r.getInt(b)
          val n = r.getAs[Long]("n")
          val pos = r.getAs[Long]("pos")
          Row.fromSeq(g ++ Seq[Any](bi, n, r.getAs[Double]("avg_pred"),
            round6(pos.toDouble / n.toDouble), isoByBin(bi)))
        }
      }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), outSchema)
      .orderBy((by :+ "bin").map(col): _*)
  }

  /** Fleiss' kappa over r ≥ 2 binary raters (Fleiss 1971) — the
    * multi-rater generalization [[cohenKappa]] can't make: with THREE
    * quality gates voting on every document, pairwise kappas can all
    * look moderate while the panel as a whole agrees no better than
    * chance. Per subject the only statistic needed is k = #true votes;
    * everything aggregates to three exact integers (N, S1 = Σk,
    * A = Σ[k(k−1) + (r−k)(r−k−1)]) in one pass — no per-subject state,
    * no category table. κ = (A·r·N − E·(r−1)) / ((r−1)·(r²N² − E)) with
    * E = S1² + S0², all DECIMAL(38,0) (exact to N ~ 10¹⁸/r² subjects);
    * one double division at the end. Unanimous-single-category panels
    * (E = r²N²) have P_e = 1 → NULL kappa, like the degenerate
    * [[cohenKappa]] contract. */
  def fleissKappa(df: DataFrame, raters: Seq[Column]): DataFrame =
    fleissKappaCore(df, Nil, raters, "fleissKappa")

  /** Per-`byCol`-segment Fleiss' kappa — is the PANEL's agreement
    * uniform across sources, or do the three gates only co-vote on one
    * source's style? Exactly [[fleissKappa]] per segment: the segment
    * rides the one aggregation's key. Rows with a null segment drop;
    * unanimous segments keep their row with NULL kappa. */
  def fleissKappaBy(df: DataFrame, raters: Seq[Column], byCol: String): DataFrame =
    bySegment(fleissKappaCore(df.filter(col(byCol).isNotNull), Seq(byCol), raters,
      "fleissKappaBy"), byCol)

  private def fleissKappaCore(
      df: DataFrame, by: Seq[String], raters: Seq[Column], op: String): DataFrame = {
    val r = raters.length
    require(r >= 2, s"$op: needs >= 2 raters, got $r")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val k = raters.map(c => when(c, 1L).otherwise(0L)).reduce(_ + _)
    val rl = lit(r.toLong)
    val keys = segKeys(by).map(col)
    val agg = df.select(segCols(by) :+ k.as("k"): _*)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum(col("k")).as("s1"),
        sum(col("k") * (col("k") - 1L) +
          (rl - col("k")) * (rl - 1L - col("k"))).as("a"))
    val nD = col("n").cast(dec38)
    val s1 = col("s1").cast(dec38)
    val s0 = rl.cast(dec38) * nD - s1
    val e = s1 * s1 + s0 * s0
    val num = col("a").cast(dec38) * rl.cast(dec38) * nD - e * lit((r - 1).toLong).cast(dec38)
    val den = lit((r - 1).toLong).cast(dec38) *
      (lit((r.toLong * r)).cast(dec38) * nD * nD - e)
    agg.select(keys ++ Seq(col("n"),
      round(col("a").cast(DoubleType) /
        (col("n").cast(DoubleType) * lit((r * (r - 1)).toDouble)), 6).as("p_bar"),
      round(e.cast(DoubleType) /
        (lit((r * r).toDouble) * col("n").cast(DoubleType) * col("n").cast(DoubleType)), 6)
        .as("p_e"),
      when(den === lit(0).cast(dec38), lit(null).cast(DoubleType))
        .otherwise(round(num.cast(DoubleType) / den.cast(DoubleType), 6)).as("kappa")): _*)
  }

  /** Split-conformal calibration of a probabilistic gate (Vovk's
    * inductive conformal prediction; Angelopoulos & Bates 2021 survey) —
    * the DISTRIBUTION-FREE coverage guarantee the reliability-bin family
    * can't give: calibrate a nonconformity threshold q̂ on one half, and
    * prediction sets {c : 1 − p̂(c) ≤ q̂} on the other half contain the
    * true label with probability ≥ 1 − α, for ANY score quality —
    * a badly calibrated score just pays in set size, which is exactly
    * what `avg_set_size` surfaces.
    *
    * Scale shape: the halves split by portable-hash parity (engine-
    * portable, no shuffle); the calibration quantile is the EXACT
    * ⌈(n+1)(1−α)⌉-th order statistic via the bit-grid selection — never
    * a row-sized window, never a sort-to-driver; the test half folds to
    * one row of integer counts. Everything compares DECIMAL(8,6)
    * nonconformity scores exactly, so the whole chain replays in SQL.
    * k > n_cal (tiny calibration sets) degrades honestly to q̂ = 1 — the
    * full prediction set, coverage 1, the conformal contract. */
  def conformalGate(df: DataFrame, id: Column, score: Column, label: Column,
      coverPct: Int = 90): DataFrame = {
    require(coverPct >= 1 && coverPct <= 99, s"conformalGate: coverPct=$coverPct")
    conformalGateCore(conformalScored(df, id, score, label), Nil, coverPct)
  }

  /** Group-conditional (Mondrian) conformal calibration — a SEPARATE q̂
    * per segment, so the ≥ 1−α guarantee holds PER SOURCE, not just
    * marginally (a marginal q̂ can over-cover an easy source while
    * under-covering a hard one — averaged away in [[conformalGate]]'s
    * single row). Exactly the global operator per segment. Rows drive
    * from the CALIBRATION side: a segment with no test rows keeps its
    * (n_test = 0, NULL coverage) row; a segment with no calibration rows
    * has no guarantee to offer and DROPS — the honest contract. */
  def conformalGateBy(df: DataFrame, id: Column, score: Column, label: Column,
      byCol: String, coverPct: Int = 90): DataFrame = {
    require(coverPct >= 1 && coverPct <= 99, s"conformalGateBy: coverPct=$coverPct")
    bySegment(conformalGateCore(conformalScoredBy(df, byCol, id, score, label),
      Seq("__g"), coverPct), byCol)
  }

  /** The gate over a scored frame keyed by `keys` (Nil or `__g`). ONE
    * scoring pass: the qhat selection (two grid scans + the total) and
    * the test fold are four consumers of this 5-narrow-column
    * projection; without the pin each re-runs the caller's per-row
    * scoring chain (the ConformalStream fusion argument). The global
    * form folds the test half into one row even when it is empty; the
    * segmented form joins each calibration segment's fold back. */
  private def conformalGateCore(scored: DataFrame, keys: Seq[String],
      coverPct: Int): DataFrame = {
    val dec86 = org.apache.spark.sql.types.DecimalType(8, 6)
    val one = lit(1).cast(dec86)
    val base = scored.localCheckpoint(false)
    val qhat = conformalQhatCore(base, keys, coverPct)
    val tested = attach(base.filter(!col("is_cal")), qhat, keys)
    val fold = Seq(
      count(lit(1)).as("n_test"),
      sum(when(col("a") <= col("qhat"), 1L).otherwise(0L)).as("__cov"),
      sum(when((one - col("q")).cast(dec86) <= col("qhat"), 1L).otherwise(0L) +
        when(col("q") <= col("qhat"), 1L).otherwise(0L)).as("__sz"))
    val rates = Seq(
      round(col("__cov").cast(DoubleType) / col("n_test"), 6).as("coverage"),
      round(col("__sz").cast(DoubleType) / col("n_test"), 6).as("avg_set_size"))
    if (keys.isEmpty)
      tested.agg(first(col("n_cal")).as("n_cal"),
          fold :+ first(col("qhat")).as("__qh"): _*)
        .select(Seq(col("n_cal"), col("n_test"), col("__qh").cast(DoubleType).as("qhat")) ++
          rates: _*)
    else
      qhat.join(tested.groupBy(keys.map(col): _*).agg(fold.head, fold.tail: _*),
          keys, "left")
        .select(keys.map(col) ++ Seq(col("n_cal"),
          coalesce(col("n_test"), lit(0L)).as("n_test"),
          col("qhat").cast(DoubleType).as("qhat")) ++ rates: _*)
  }

  /** The conformal family's scored projection — (__id, q, y, is_cal, a):
    * score clamped to DECIMAL(8,6), nonconformity a = y ? 1−q : q,
    * calibration/test split by portable-hash parity; rows with a null
    * id, score or label drop. PUBLIC so the streaming coverage monitor
    * ([[graft.streaming.ConformalStream]]) applies the IDENTICAL per-row
    * map to arriving rows — drift between the gate and its monitor is
    * impossible by construction. */
  def conformalScored(df: DataFrame, id: Column, score: Column,
      label: Column): DataFrame =
    conformalScoredCore(df, Nil, id, score, label)

  /** Grouped twin of [[conformalScored]]: the segment rides along as
    * `__g`, and rows with a null segment drop. PUBLIC for the grouped
    * streaming coverage monitor. */
  def conformalScoredBy(df: DataFrame, byCol: String, id: Column,
      score: Column, label: Column): DataFrame =
    conformalScoredCore(df.filter(col(byCol).isNotNull), Seq(byCol), id, score, label)

  private def conformalScoredCore(df: DataFrame, by: Seq[String], id: Column,
      score: Column, label: Column): DataFrame = {
    val dec86 = org.apache.spark.sql.types.DecimalType(8, 6)
    val one = lit(1).cast(dec86)
    df.select(segCols(by) ++ Seq(id.as("__id"), score.cast(dec86).as("q"),
        label.cast("boolean").as("y")): _*)
      .filter(col("__id").isNotNull && col("q").isNotNull && col("y").isNotNull)
      .withColumn("is_cal",
        pmod(graft.functions.PortableHash.keyHash(col("__id")), lit(2L)) === 0L)
      .withColumn("a", when(col("y"), (one - col("q")).cast(dec86))
        .otherwise(col("q")))
  }

  /** Frozen calibration summary — ONE row (qhat DECIMAL(8,6), n_cal):
    * the exact ⌈(n+1)·coverPct/100⌉-th order statistic of the
    * calibration half's nonconformity scores. This is the at-rest model
    * the streaming coverage monitor judges arrivals against; k > n_cal
    * degrades honestly to q̂ = 1 (full sets, coverage 1). */
  def conformalQhatRow(base: DataFrame, coverPct: Int): DataFrame =
    conformalQhatCore(base, Nil, coverPct)

  /** Grouped twin of [[conformalQhatRow]]: one (__g, n_cal, qhat) row
    * per segment that HAS calibration rows (cal-less segments have no
    * guarantee to offer and drop — the Mondrian contract). */
  def conformalQhatRowsBy(base: DataFrame, coverPct: Int): DataFrame =
    conformalQhatCore(base, Seq("__g"), coverPct)

  /** The k-th order statistic per segment via the bit-grid selection
    * (two pruned scans of the checkpointed base + one grid-bounded
    * collect) — the exact "smallest a with cum count ≥ k" semantics. A
    * segment whose k exceeds n_cal finds no rank bracket and drops from
    * the grid; the coalesce then degrades it honestly to q̂ = 1 (full
    * sets). The global form aggregates the ≤ 1 selected row so it
    * always returns its one row; segments attach theirs to the
    * calibration totals, so cal-less segments are absent. */
  private def conformalQhatCore(base: DataFrame, keys: Seq[String],
      coverPct: Int): DataFrame = {
    val one = lit(1).cast(org.apache.spark.sql.types.DecimalType(8, 6))
    val cal = base.filter(col("is_cal"))
    val group = if (keys.isEmpty) Seq(lit("all").as("__g")) else keys.map(col)
    val sel = bitValuesAtRanks(cal.select(group ++ Seq(col("a").as("v"), lit(1L).as("w")): _*),
      Seq(50), rankFor = (_, n) => (coverPct.toLong * (n + 1L) + 99L) / 100L)
    val tot = cal.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_cal"))
    if (keys.isEmpty)
      sel.agg(coalesce(min(col("q_50")), one).as("qhat")).crossJoin(broadcast(tot))
    else
      tot.join(broadcast(sel.select(col("__g"), col("q_50").as("__qh0"))), keys, "left")
        .select(col("__g"), col("n_cal"), coalesce(col("__qh0"), one).as("qhat"))
  }

  /** ROC AUC of a score against a boolean outcome — EXACT, because AUC
    * IS the Mann–Whitney statistic: AUC = U_pos/(n_pos·n_neg) with the
    * tie-average convention (P(s⁺ > s⁻) + ½·P(s⁺ = s⁻)), so the existing
    * doubled-rank algebra delivers an exact-integer 2·U and the AUC is
    * ONE double division. Rides the whole [[mannWhitneyU]] scale shape
    * (per-distinct-value counts, distributed ECDF scan) and keeps its
    * z (the "is this ranking better than chance?" significance). A
    * one-class input has no AUC (NULL). */
  def aucScore(df: DataFrame, score: Column, label: Column): DataFrame =
    aucScoreCore(df, Nil, score, label, None)

  /** Per-`byCol`-segment ROC AUC — is the ranking quality uniform across
    * segments, or does the gate only discriminate on one source's style?
    * Exactly [[aucScore]] riding the [[mannWhitneyUBy]] algebra (segment
    * on every key of the exact doubled-rank algebra); rows with a null
    * segment drop, and one-class segments drop (no ranking to score —
    * the grouped MW contract). */
  def aucScoreBy(
      df: DataFrame, score: Column, label: Column, byCol: String): DataFrame =
    bySegment(aucScoreCore(df.filter(col(byCol).isNotNull), Seq(byCol), score, label,
      Some(col("n_a") > 0 && col("n_b") > 0)), byCol)

  private def aucScoreCore(df: DataFrame, by: Seq[String], score: Column, label: Column,
      keep: Option[Column]): DataFrame = {
    val tagged = df
      .filter(score.isNotNull && label.isNotNull)
      .select(by.map(col) ++ Seq(score.as("__s"),
        when(label.cast("boolean"), "pos").otherwise("neg").as("__l")): _*)
    mannWhitneyUCore(tagged, by, col("__s"), col("__l"), "pos", "neg", keep)
      .select(segKeys(by).map(col) ++ Seq(
        col("n_a").as("n_pos"), col("n_b").as("n_neg"),
        round(when(col("n_a") > 0 && col("n_b") > 0,
          col("u2_a").cast(DoubleType) /
            (lit(2.0) * col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType))), 6)
          .as("auc"),
        col("z_stat")): _*)
  }

  /** Decile lift table of a score against a boolean outcome — the
    * TARGETING readout next to [[aucScore]]: "if I keep only the top
    * k score-deciles, how concentrated are the positives?" Bins come
    * from the DISCRETE score-decile edges (the [[quantileEdges]] rank
    * picks on the bit grid — actual data values, so binning is exact and
    * engine-portable), counts are pure integers, cumulatives run top-bin
    * first over the ≤ nBins domain (an aggregation-bounded window), and
    * lift = (cum_pos/cum_n)/(P/N) is one double chain per bin. Base-rate
    * zero (no positives) → NULL lift. */
  def liftCurve(
      df: DataFrame, score: Column, label: Column, nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && 100 % nBins == 0, s"liftCurve: nBins must divide 100, got $nBins")
    val rows0 = df.filter(score.isNotNull && label.isNotNull)
      .select(score.cast(DoubleType).as("v"), label.cast("boolean").as("y"))
    val pcts = (1 until nBins).map(i => i * 100 / nBins)
    val edges = bitValuesAtRanks(
      rows0.select(lit(1).as("__g"), col("v"), lit(1L).as("w")), pcts)
    val bin = pcts.map(p => when(col("v") > col(s"q_$p"), 1).otherwise(0))
      .reduce(_ + _)
    val counts = rows0.crossJoin(broadcast(edges.drop("__g", "n")))
      .select(bin.as("bin"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(when(col("y"), 1L).otherwise(0L)).as("pos"))
    val w = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = counts.agg(sum(col("n")).as("__tn"), sum(col("pos")).as("__tp"))
    counts
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_pos", sum(col("pos")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("pos"), col("cum_n"), col("cum_pos"),
        round(when(col("__tp") > 0,
          col("cum_pos").cast(DoubleType) / col("cum_n").cast(DoubleType) /
            (col("__tp").cast(DoubleType) / col("__tn").cast(DoubleType))), 6)
          .as("lift"))
      .orderBy(col("bin").desc)
  }

  /** Confusion-matrix stats of a boolean prediction against a boolean
    * outcome — the threshold-level readout next to [[aucScore]]'s
    * threshold-free one: TP/FP/FN/TN exact integers, precision / recall
    * / F1 as guarded double chains (NULL when a denominator is empty —
    * an undefined rate must not read as 0). One aggregate, no shuffle
    * beyond the scan's. */
  def confusionStats(df: DataFrame, predicted: Column, actual: Column): DataFrame = {
    val base = df
      .select(predicted.cast("boolean").as("p"), actual.cast("boolean").as("a"))
      .filter(col("p").isNotNull && col("a").isNotNull)
    val agg = base.agg(
      count(when(col("p") && col("a"), 1)).as("tp"),
      count(when(col("p") && !col("a"), 1)).as("fp"),
      count(when(!col("p") && col("a"), 1)).as("fn"),
      count(when(!col("p") && !col("a"), 1)).as("tn"))
    val prec = col("tp").cast(DoubleType) / (col("tp") + col("fp")).cast(DoubleType)
    val rec = col("tp").cast(DoubleType) / (col("tp") + col("fn")).cast(DoubleType)
    agg.select(
      col("tp"), col("fp"), col("fn"), col("tn"),
      round(when(col("tp") + col("fp") > 0, prec), 6).as("precision"),
      round(when(col("tp") + col("fn") > 0, rec), 6).as("recall"),
      round(when(col("tp") + col("fp") > 0 && col("tp") + col("fn") > 0 &&
        prec + rec > 0, lit(2.0) * prec * rec / (prec + rec)), 6).as("f1"))
  }

  /** Expected calibration error — the ONE-NUMBER fold of
    * [[calibrationBins]]: ECE = Σ_b (n_b/N)·|avg_pred_b − frac_pos_b|,
    * computed over the bins' ROUNDED outputs in ascending-bin order (a
    * ≤ 10-element fixed double fold the oracle replays). */
  def expectedCalibrationError(
      df: DataFrame, score: Column, label: Column): DataFrame =
    eceFold(calibrationBins(df, score, label), Nil)

  /** Per-`byCol`-segment expected calibration error — WHICH source is
    * the gate over-confident on? Exactly [[expectedCalibrationError]]
    * per segment: per-(segment, bin) exact decimal means and integer
    * rates, each segment's ≤ 10-bin ascending fold over its own rounded
    * bin stats. Rows with a null segment drop. */
  def expectedCalibrationErrorBy(
      df: DataFrame, score: Column, label: Column, byCol: String): DataFrame =
    bySegment(eceFold(
      calibrationBinsCore(df.filter(col(byCol).isNotNull), Seq(byCol), score, label),
      Seq("__g")), byCol)

  private def eceFold(bins: DataFrame, keys: Seq[String]): DataFrame = {
    val one = bins.groupBy(keys.map(col): _*).agg(
      array_sort(collect_list(struct(
        col("bin"), col("n"), col("avg_pred"), col("frac_pos")))).as("bs"),
      sum(col("n")).as("n_rows"))
    val nD = col("n_rows").cast(DoubleType)
    val ece = aggregate(col("bs"), lit(0.0), (acc, b) =>
      acc + b.getField("n").cast(DoubleType) / nD *
        abs(b.getField("avg_pred") - b.getField("frac_pos")))
    one.select(keys.map(col) ++ Seq(col("n_rows"), round(ece, 6).as("ece")): _*)
  }

  /** Brier score of the same (score, outcome) pair — the ONE-NUMBER
    * companion to [[calibrationBins]] (mean squared error of the
    * probability; 0 = oracle, 0.25 = coin). Exact: (q − y)² accumulates
    * in decimal off the 6-dp score (sums are order-free), one double
    * division at the end. */
  def brierScore(df: DataFrame, score: Column, label: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(8, 6)
    val q = score.cast(dec)
    val y = when(label.cast("boolean"), lit(1)).otherwise(lit(0)).cast(dec)
    df.select(q.as("__q"), y.as("__y"))
      .filter(col("__q").isNotNull && col("__y").isNotNull)
      .select(((col("__q") - col("__y")) * (col("__q") - col("__y"))).as("__sq"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__sq")).as("__ss"))
      .select(col("n_rows"),
        round(col("__ss").cast(DoubleType) / col("n_rows"), 6).as("brier"))
  }

  /** Cohen's kappa between two raters over the same label space — the
    * GATE-AGREEMENT audit: two quality classifiers that agree 92% of the
    * time sound aligned, but if both keep ~90% of documents, chance
    * alone produces ~82% agreement — kappa reports agreement BEYOND
    * chance ((p_o − p_e)/(1 − p_e)), the number that actually says
    * whether a cheap gate can stand in for an expensive one.
    *
    * Exactness: everything is scaled through by N² to integers — kappa
    * = (N·D − Σ_c row_c·col_c) / (N² − Σ_c row_c·col_c) with D the
    * agreement diagonal — all exact DECIMAL(38,0), ONE double division.
    * NULL when the denominator is 0 (p_e = 1: both raters constant).
    *
    * Scale shape: one keyed aggregation to the observed (x, y) cells
    * ([[guardedCells]] ceiling — a high-cardinality label space fails
    * loudly), one sorted bounded fold; the margin/diagonal folds run
    * over the cell array, never the rows. */
  def cohenKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame =
    cohenKappaCore(df, Nil, raterA, raterB, "cohenKappa")

  /** Per-`byCol`-segment Cohen's kappa — is the gate agreement uniform
    * across segments, or does the cheap gate only track the expensive
    * one on one source's style? Exactly [[cohenKappa]] per segment, each
    * segment's N²-scaled integer algebra folding over its OWN sorted
    * cell array. Rows with a null segment drop; degenerate segments
    * (p_e = 1) keep their counts with NULL kappa. */
  def cohenKappaBy(
      df: DataFrame, raterA: Column, raterB: Column, byCol: String): DataFrame =
    bySegment(cohenKappaCore(df.filter(col(byCol).isNotNull), Seq(byCol), raterA, raterB,
      "cohenKappaBy"), byCol)

  private def cohenKappaCore(df: DataFrame, by: Seq[String], raterA: Column,
      raterB: Column, op: String): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val keys = segKeys(by)
    val cells = guardedCells(
      df.select(segCols(by) ++ Seq(raterA.cast("string").as("x"),
          raterB.cast("string").as("y")): _*)
        .filter(col("x").isNotNull && col("y").isNotNull),
      keys, op)
    val one = cellArray(cells, keys,
      sum(when(col("x") === col("y"), col("cnt")).otherwise(0L)).as("agree"))
    val cats = array_sort(array_distinct(concat(
      transform(col("cs"), c => c.getField("x")),
      transform(col("cs"), c => c.getField("y")))))
    val rowOf = (cat: Column) => aggregate(
      filter(col("cs"), c => c.getField("x") === cat),
      lit(0L), (a, c) => a + c.getField("cnt"))
    val colOf = (cat: Column) => aggregate(
      filter(col("cs"), c => c.getField("y") === cat),
      lit(0L), (a, c) => a + c.getField("cnt"))
    val peNum = aggregate(cats, lit(0L).cast(dec38),
      (acc, cat) => acc + rowOf(cat).cast(dec38) * colOf(cat).cast(dec38))
    val nDec = col("n").cast(dec38)
    val num = nDec * col("agree").cast(dec38) - peNum
    val den = nDec * nDec - peNum
    one.select(keys.map(col) ++ Seq(
      col("n").as("n_rows"), col("agree").as("n_agree"),
      round(when(den =!= lit(0), num.cast(DoubleType) / den.cast(DoubleType)), 6)
        .as("kappa")): _*)
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) between two groups — the
    * NONPARAMETRIC companion to [[welchT]] (no normality assumption;
    * the right gate when metric distributions are skewed, which engagement
    * and revenue metrics always are). Average-rank tie handling with the
    * tie-corrected normal approximation for z.
    *
    * Exactness discipline: ranks are never materialized per row — per
    * distinct VALUE, the group counts and the cumulative count below give
    * 2·R_A = Σ_v ca·(2·below + ca + cb + 1), an exact INTEGER (the ×2
    * absorbs the .5 average ranks), and the tie term Σ(t³−t) is exact the
    * same way. Both sums aggregate IN DECIMAL(38,0) — Σ t³ passes BIGINT
    * at ~2M ties on one value and Σ ca·(2·below+…) at ~2·10⁹ rows — with
    * `u2_a` = 2·U_A cast back to the exact BIGINT output (≤ 2·n_a·n_b) so
    * the oracle compare is float-free for the statistic itself. One
    * double chain at the end computes z.
    *
    * Scale shape: per-value counts aggregate distributed (keyed shuffle on
    * the value, same as [[ksStatistic]]); the cumulative count then runs
    * through the distributed [[runningTotals]] scan. (For continuous
    * values distinct ≈ rows, so a plain ordered window here would be a
    * single-task sort over nearly the full input — the scale-killer.) */
  def mannWhitneyU(
      df: DataFrame, value: Column, groupCol: Column,
      groupA: String, groupB: String): DataFrame =
    mannWhitneyUCore(df, Nil, value, groupCol, groupA, groupB, None)

  /** Per-`byCol`-group Mann–Whitney U — the grouped companion to
    * [[mannWhitneyU]], completing the per-segment drift family with
    * [[ksStatisticBy]] (max ECDF gap) and [[psiDriftBy]] (binned
    * divergence): after "WHICH segment drifted?", the next gate is "is
    * the rank shift SIGNIFICANT within that segment?". Exactly the
    * global exact-integer doubled-rank algebra with the group riding
    * every key; the cumulative below-counts run through the GROUPED
    * two-level scan ([[runningTotalsBy]] — never a per-group single-task
    * window). Groups missing either side have no two-sample statistic
    * and are DROPPED (the [[ksStatisticBy]] contract); a within-group
    * all-tied value column zeroes the tie-corrected sigma and z follows
    * the same IEEE double division as the global operator. */
  def mannWhitneyUBy(
      df: DataFrame, value: Column, splitCol: Column,
      groupA: String, groupB: String, byCol: String): DataFrame =
    bySegment(mannWhitneyUCore(df, Seq(byCol), value, splitCol, groupA, groupB,
      Some(col("n_a") > 0 && col("n_b") > 0)), byCol)

  private def mannWhitneyUCore(
      df: DataFrame, by: Seq[String], value: Column, splitCol: Column,
      groupA: String, groupB: String, keep: Option[Column]): DataFrame = {
    val keys = segKeys(by)
    val tagged = df
      .filter(splitCol.isin(groupA, groupB))
      .select(segCols(by) ++ Seq(value.as("v"), (splitCol === groupA).as("is_a")): _*)
    val perValue = tagged.groupBy((keys :+ "v").map(col): _*).agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
    // decimal BEFORE multiplying (the spearmanRho discipline): Σ t³ passes
    // BIGINT at ~2M same-value ties and Σ ca·(2·below+…) at ~2·10⁹ rows —
    // exactly the scales this rank algebra exists for. u2_a still emits
    // as BIGINT (the output contract; 2·U_A ≤ 2·n_a·n_b).
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val t = col("ca").cast(dec38) + col("cb")
    val ranked = runningTotalsBy(perValue, keys, Seq("ca", "cb"))
      .withColumn("below", col("cum_ca") + col("cum_cb") - col("ca") - col("cb"))
    val agg0 = ranked.groupBy(keys.map(col): _*).agg(
      sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
      sum(col("ca").cast(dec38) *
        (col("below").cast(dec38) * 2 + col("ca") + col("cb") + 1)).as("__r2a"),
      sum(t * t * t - t).as("__tie3"))
    val agg = keep.fold(agg0)(agg0.filter(_))
    val (na, nb) = (col("n_a").cast(DoubleType), col("n_b").cast(DoubleType))
    val u2a = (col("__r2a") - col("n_a").cast(dec38) * (col("n_a") + 1))
      .cast(LongType) // exact 2·U_A
    val nn = na + nb
    val u = u2a.cast(DoubleType) / lit(2.0)
    val mu = na * nb / lit(2.0)
    val sigma = sqrt(na * nb / lit(12.0) *
      ((nn + lit(1.0)) - col("__tie3").cast(DoubleType) / (nn * (nn - lit(1.0)))))
    agg.select(keys.map(col) ++ Seq(
      col("n_a"), col("n_b"),
      u2a.as("u2_a"),
      round((u - mu) / sigma, 6).as("z_stat")): _*)
  }

  /** Cliff's delta — the EFFECT-SIZE companion to [[mannWhitneyU]]: the
    * U test answers "is the rank shift significant?" (at corpus n,
    * everything is), δ = P(a > b) − P(a < b) ∈ [−1, 1] answers "how BIG
    * is it?" — the dominance probability difference, distribution-free
    * and tie-aware (Cliff 1993; |δ| < .147 negligible, < .33 small,
    * < .474 medium — the standard bands). Computed EXACTLY from the same
    * per-distinct-value cumulative algebra: Σ_v ca(v)·(belowB(v) −
    * aboveB(v)) with belowB = cumB⁻, aboveB = n_b − cumB, an exact
    * integer in DECIMAL(38,0) (the [[mannWhitneyU]]
    * decimal-before-multiply discipline; ties contribute zero by
    * construction), divided ONCE by n_a·n_b — bit-portable. Same scale
    * shape as the U statistic: per-value counts aggregate distributed,
    * cumulatives via the two-level scan, one summary row out. */
  def cliffsDelta(
      df: DataFrame, value: Column, groupCol: Column,
      groupA: String, groupB: String): DataFrame =
    cliffsDeltaCore(df, Nil, value, groupCol, groupA, groupB)

  /** Per-`byCol`-group Cliff's delta — "how big is the shift in EACH
    * segment?", the effect-size column of the per-segment drift
    * dashboard ([[ksStatisticBy]] gap, [[mannWhitneyUBy]] significance,
    * [[wassersteinDistanceBy]] distance — δ adds the direction-and-
    * dominance view). Same exact-integer algebra with the group riding
    * every key; one-sided groups DROP (the grouped-gate contract). */
  def cliffsDeltaBy(
      df: DataFrame, value: Column, splitCol: Column,
      groupA: String, groupB: String, byCol: String): DataFrame =
    bySegment(cliffsDeltaCore(df, Seq(byCol), value, splitCol, groupA, groupB), byCol)

  private def cliffsDeltaCore(
      df: DataFrame, by: Seq[String], value: Column, splitCol: Column,
      groupA: String, groupB: String): DataFrame = {
    val tagged = df
      .filter(splitCol.isin(groupA, groupB))
      .select(segCols(by) ++ Seq(value.as("v"), (splitCol === groupA).as("is_a")): _*)
    val gKey = segKeys(by)
    val perValue = tagged.groupBy((gKey :+ "v").map(col): _*).agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val ranked = runningTotalsBy(perValue, gKey, Seq("ca", "cb"))
    // belowB − aboveB = (cumB − cb) − (n_b − cumB) = 2·cumB − cb − n_b;
    // n_b folds in AFTER aggregation: Σ ca·(2·cumB − cb) − n_a·n_b
    val agg = ranked.groupBy(gKey.map(col): _*).agg(
      sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
      sum(col("ca").cast(dec38) *
        (col("cum_cb").cast(dec38) * 2 - col("cb"))).as("__s"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
    val nab = col("n_a").cast(dec38) * col("n_b")
    agg.select(gKey.map(col) ++ Seq(col("n_a"), col("n_b"),
      round((col("__s") - nab).cast(DoubleType) / nab.cast(DoubleType), 6)
        .as("cliffs_delta")): _*)
  }

  /** Two-sided normal p-value from a z statistic — p = erfc(|z|/√2) via
    * the Abramowitz–Stegun 7.1.26 rational approximation (|ε| ≤ 1.5e−7,
    * far below any decision threshold): a fixed Horner chain over five
    * published constants and one exp, spelled ONCE and replayed
    * verbatim in the SQL oracle — the repo's spell-the-chain discipline
    * applied to the one special function the test family needs. */
  def pValueTwoSided(z: Column): Column = {
    val x = abs(z) / lit(math.sqrt(2.0))
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = t * (lit(0.254829592) + t * (lit(-0.284496736) +
      t * (lit(1.421413741) + t * (lit(-1.453152027) + t * lit(1.061405429)))))
    poly * exp(-x * x)
  }

  /** Benjamini–Hochberg FDR adjustment over a grouped gate's per-segment
    * z statistics — the MISSING META-GATE of the per-segment dashboard:
    * running [[mannWhitneyUBy]] / [[welchTBy]] across 50 segments at
    * α = .05 expects 2-3 false alarms from pure noise; BH (1995) is the
    * standard step-up control of the expected false-discovery fraction.
    * Per segment: the two-sided p ([[pValueTwoSided]]), the adjusted
    * p_adj(i) = min_{j≥i} p_(j)·m/j clamped to 1 (computed as a running
    * min over the p-DESCENDING order — the textbook step-up traversal),
    * and the α-level significance flag.
    *
    * INPUT CONTRACT: `stats` is the segment-bounded OUTPUT of a grouped
    * gate (one row per segment — model-sized by the grouped-gate
    * construction), so the single ordered window here runs over ≤
    * |segments| rows, the [[graft.operators.TimeSeries.rollingAnomaly]]
    * bounded-domain window discipline — never point this at row-sized
    * data. Segments with a NULL statistic (e.g. an all-tied group's
    * z) carry no evidence and DROP before ranking; ties in p order by
    * the segment key so both engines rank identically. */
  def fdrAdjust(
      stats: DataFrame, keyCol: String, zCol: String,
      alphaPct: Int = 5): DataFrame = {
    require(alphaPct >= 1 && alphaPct <= 50,
      s"fdrAdjust: alphaPct must be in [1, 50], got $alphaPct")
    val base = stats.select(col(keyCol).as("__k"), col(zCol).as("__z"))
      .filter(col("__z").isNotNull)
      .withColumn("__p", pValueTwoSided(col("__z")))
    val tot = base.agg(count(lit(1)).as("__m"))
    val wDesc = Window.orderBy(col("__p").desc, col("__k").desc)
    val wMin = wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.crossJoin(broadcast(tot))
      .withColumn("__rn", row_number().over(wDesc)) // 1 = largest p
      .withColumn("__adj", least(lit(1.0),
        min(col("__p") * col("__m") / (col("__m") - col("__rn") + 1)).over(wMin)))
      .select(col("__k").as(keyCol), col("__z").as(zCol),
        round(col("__p"), 6).as("p_value"),
        round(col("__adj"), 6).as("p_adj"),
        (col("__adj") <= lit(alphaPct / 100.0)).as("significant"))
      .orderBy(keyCol)
  }

  /** Population Stability Index between the `value` distributions of a
    * REFERENCE group and a CURRENT group — the production drift gate run
    * between yesterday's corpus and today's refresh (PSI < 0.1 stable,
    * 0.1–0.25 moderate shift, > 0.25 investigate): bins are the reference
    * distribution's `nBins` quantile edges, PSI = Σ (p_i − q_i)·ln(p_i/q_i)
    * over the binned proportions.
    *
    * Scale shape: edges come from the distributed bit-grid selection
    * ([[bitValuesAtRanks]], one global group — discrete data values, so the
    * binning is bit-portable), broadcast as ONE row; binning is then pure
    * map-side arithmetic and the bin counts are a ≤ nBins×2 aggregate.
    * Proportions are Laplace-smoothed (+0.5 per bin) so structurally empty
    * bins (repeated edges on low-cardinality data) stay finite, and the
    * final fp fold runs in sorted bin order over a bounded array — the
    * oracle replays it bit-identically (cf. [[mutualInformation]]).
    *
    * An empty (or all-null) reference group yields an EMPTY result, not a
    * psi-of-zero row: a gate must fail loudly on a missing profile. */
  def psiDrift(
      df: DataFrame, value: Column, groupCol: Column,
      refGroup: String, curGroup: String, nBins: Int = 10): DataFrame =
    psiDriftCore(df, Nil, value, groupCol, refGroup, curGroup, nBins, "psiDrift")

  /** Per-`byCol`-segment PSI — the grouped companion to [[psiDrift]]
    * (with [[ksStatisticBy]]: "WHICH segment drifted, and how is its
    * mass redistributed?"). Each segment bins against ITS OWN reference
    * quantile edges — a shared global binning would hide a segment whose
    * distribution moved inside one global bin. Per-segment edges come
    * from the GROUPED bit-grid selection (no bounds pass,
    * point-mass-safe) and attach to rows by a slim broadcast keyed on
    * the segment. Segments with an EMPTY reference side produce no edges
    * and are DROPPED (the gate fails loudly on a missing profile, as in
    * the global contract); segments with an empty CURRENT side keep the
    * smoothed all-zero fold — maximal drift is signal, not absence. */
  def psiDriftBy(
      df: DataFrame, value: Column, splitCol: Column,
      refGroup: String, curGroup: String, byCol: String,
      nBins: Int = 10): DataFrame =
    bySegment(psiDriftCore(df, Seq(byCol), value, splitCol, refGroup, curGroup, nBins,
      "psiDriftBy"), byCol)

  private def psiDriftCore(
      df: DataFrame, by: Seq[String], value: Column, splitCol: Column,
      refGroup: String, curGroup: String, nBins: Int, op: String): DataFrame = {
    require(nBins >= 2 && 100 % nBins == 0, s"$op: nBins must divide 100, got $nBins")
    val keys = segKeys(by)
    val tagged = df
      .filter(splitCol.isin(refGroup, curGroup))
      .select(segCols(by) ++ Seq(value.cast(DoubleType).as("v"),
        (splitCol === refGroup).as("is_ref")): _*)
      .filter(col("v").isNotNull)
    val pcts = (1 until nBins).map(i => i * 100 / nBins)
    val group = if (keys.isEmpty) Seq(lit(1).as("__g")) else keys.map(col)
    val edges = bitValuesAtRanks(
      tagged.filter(col("is_ref")).select(group ++ Seq(col("v"), lit(1L).as("w")): _*),
      pcts)
    // bin id = # edges strictly below v (v == edge → the lower bin)
    val bin = pcts.map(p => when(col("v") > col(s"q_$p"), 1).otherwise(0))
      .reduce(_ + _)
    val counts = attach(tagged,
        edges.drop((if (keys.isEmpty) Seq("__g", "n") else Seq("n")): _*), keys)
      .select(keys.map(col) ++ Seq(bin.as("bin"), col("is_ref")): _*)
      .groupBy((keys :+ "bin").map(col): _*)
      .agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("cr"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cc"))
    // full bin domain (smoothed empty bins contribute when n_ref ≠ n_cur)
    val allBins = edges
      .select(keys.map(col) :+ explode(sequence(lit(0), lit(nBins - 1))).as("bin"): _*)
      .join(counts, keys :+ "bin", "left")
      .select(keys.map(col) ++ Seq(col("bin"),
        coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("cc"), lit(0L)).as("cc")): _*)
    // the global form groups by a constant key, NOT a global aggregation:
    // an empty or all-null reference group then yields an EMPTY result —
    // a drift gate must never read "psi = 0, perfectly stable" off a
    // missing profile
    val one = allBins.groupBy(
        (if (keys.isEmpty) Seq(lit(1).as("__one")) else keys.map(col)): _*).agg(
      array_sort(collect_list(struct(col("bin"), col("cr"), col("cc")))).as("bs"),
      sum(col("cr")).as("n_ref"), sum(col("cc")).as("n_cur"))
    val nR = col("n_ref").cast(DoubleType)
    val nC = col("n_cur").cast(DoubleType)
    val half = lit(0.5)
    val psi = aggregate(col("bs"), lit(0.0), (acc, b) => {
      val p = (b.getField("cr").cast(DoubleType) + half) / (nR + half * nBins)
      val q = (b.getField("cc").cast(DoubleType) + half) / (nC + half * nBins)
      acc + (p - q) * log(p / q)
    })
    one.select(keys.map(col) ++ Seq(col("n_ref"), col("n_cur"), round(psi, 6).as("psi")): _*)
  }

  /** Reference quantile edges for PSI-style binning: the `nBins`-quantile
    * DISCRETE cut values of `value` (actual data values at the integer
    * rank targets, same rule as [[psiDrift]]), via the distributed
    * histogram selection, collected driver-side — exactly `nBins − 1`
    * doubles, bounded by construction. The consumer bakes them into a
    * map-side binning expression (e.g. a streaming drift monitor binning
    * every micro-batch against a frozen reference profile). */
  def quantileEdges(df: DataFrame, value: Column, nBins: Int = 10): Seq[Double] = {
    require(nBins >= 2 && 100 % nBins == 0, s"quantileEdges: nBins must divide 100, got $nBins")
    val pcts = (1 until nBins).map(i => i * 100 / nBins)
    val rows = bitValuesAtRanks(
      df.select(lit(1).as("__g"), value.cast(DoubleType).as("v"))
        .withColumn("w", lit(1L)),
      pcts).take(1)
    require(rows.nonEmpty, "quantileEdges: no non-null values to derive edges from")
    pcts.map(p => rows(0).getAs[Double](s"q_$p"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between the `value`
    * distributions of two groups — the standard data-drift gate a pipeline
    * runs between yesterday's and today's batch (or two corpus sources)
    * before trusting a refresh: D = max over x of |F_a(x) − F_b(x)|.
    *
    * Scale shape: the per-value counts aggregate DISTRIBUTED first (one
    * keyed shuffle on the value); the exact ECDF cumulative counts then
    * run through the distributed [[runningTotals]] scan rather than a
    * single-task ordered window (for continuous values distinct ≈ rows).
    * The ECDFs are exact-integer cumulative counts divided once at the
    * end, so the statistic is bit-portable across engines. Output is one
    * row: group sizes and D.
    */
  def ksStatistic(
      df: DataFrame, value: Column, groupCol: Column,
      groupA: String, groupB: String): DataFrame =
    ksStatisticCore(df, Nil, value, groupCol, groupA, groupB, None)

  /** Per-`byCol`-group two-sample KS drift — the "WHICH source/segment
    * drifted?" companion to [[ksStatistic]] (the first question a
    * curation pipeline asks after the global gate trips): one row per
    * group with D = max |F_a(x) − F_b(x)| within that group. Same scale
    * shape as the global statistic with the group riding every key: the
    * exact ECDF cumulatives run through the GROUPED two-level scan
    * ([[runningTotalsBy]] — never a per-group single-task window; a group
    * bigger than one partition scans in parallel), and the per-group
    * totals broadcast back. Groups missing either side have no
    * two-sample statistic and are DROPPED before the division (a gate
    * must not read "D over an empty distribution" as signal). */
  def ksStatisticBy(
      df: DataFrame, value: Column, splitCol: Column,
      groupA: String, groupB: String, byCol: String): DataFrame =
    bySegment(ksStatisticCore(df, Seq(byCol), value, splitCol, groupA, groupB,
      Some(col("n_a") > 0 && col("n_b") > 0)), byCol)

  private def ksStatisticCore(
      df: DataFrame, by: Seq[String], value: Column, splitCol: Column,
      groupA: String, groupB: String, keep: Option[Column]): DataFrame = {
    val keys = segKeys(by)
    val tagged = df
      .filter(splitCol.isin(groupA, groupB))
      .select(segCols(by) ++ Seq(value.as("v"), (splitCol === groupA).as("is_a")): _*)
    val perValue = tagged.groupBy((keys :+ "v").map(col): _*).agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
    val cum = runningTotalsBy(perValue, keys, Seq("ca", "cb"))
    val tot0 = perValue.groupBy(keys.map(col): _*)
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val tot = keep.fold(tot0)(tot0.filter(_))
    attach(cum, tot, keys)
      .groupBy(keys.map(col): _*)
      .agg(
        first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        round(max(abs(
          col("cum_ca").cast(DoubleType) / col("n_a") -
            col("cum_cb").cast(DoubleType) / col("n_b"))), 6).as("ks_stat"))
  }

  /** Two-sample Wasserstein-1 (earth-mover) distance between the value
    * distributions of groups A and B — the MAGNITUDE companion to the
    * drift-gate family: [[ksStatistic]] reports the worst single ECDF
    * gap (a sup-norm, blind to how WIDE the gap is), [[psiDrift]] a
    * binned divergence (bin-resolution-limited), while W₁ =
    * ∫|F_a − F_b| dx is the total probability mass times the DISTANCE it
    * moved, in the value's own units — "the length distribution shifted
    * by ~340 characters", the number a curation review acts on. Computed
    * EXACTLY on the discrete sample domain: W₁ = Σᵢ |F_a(vᵢ) − F_b(vᵢ)|
    * · (vᵢ₊₁ − vᵢ) over the sorted distinct values.
    *
    * Scale shape — the [[ksStatistic]] template plus a distributed lead:
    * per-value counts aggregate distributed (one keyed shuffle), the
    * ECDF cumulatives AND each value's successor ride the SAME two-level
    * scan ([[runningTotalsBy]] `withNextV` — the successor of a
    * partition slice's last value comes from the slice-head summary the
    * offsets already aggregate, so the lead costs no extra exchange;
    * never a single-task global window). Exactness: the summand is the
    * exact integer |cumA·n_b − cumB·n_a| · gap accumulated in
    * DECIMAL(38,0)-scaled arithmetic (order-free; bounded by
    * n²·range < 10³⁸ for n ≤ 10¹⁴ rows at 10⁹ value range — the
    * 100 TB envelope with headroom), divided ONCE by n_a·n_b at the
    * end — bit-portable against a HUGEINT oracle. `value` must be
    * INTEGER-valued (the gap truncates to whole units — the exactness
    * argument needs an integral lattice); money callers pass cents,
    * the [[graft.operators.TimeSeries.rollingAnomaly]] convention. */
  def wassersteinDistance(
      df: DataFrame, value: Column, groupCol: Column,
      groupA: String, groupB: String): DataFrame =
    wassersteinCore(df, Nil, value, groupCol, groupA, groupB)

  /** Per-`byCol`-group Wasserstein-1 drift — "HOW FAR did each segment's
    * distribution move?", the magnitude companion to [[ksStatisticBy]]
    * (which only says how big the worst ECDF gap is). Same exact-integer
    * algebra with the group riding every key: per-(group, value) counts,
    * GROUPED two-level scan with the slice-head lead, per-group totals
    * broadcast back. Groups missing either side have no two-sample
    * distance and DROP (the [[ksStatisticBy]] contract). */
  def wassersteinDistanceBy(
      df: DataFrame, value: Column, splitCol: Column,
      groupA: String, groupB: String, byCol: String): DataFrame =
    bySegment(wassersteinCore(df, Seq(byCol), value, splitCol, groupA, groupB), byCol)

  private def wassersteinCore(
      df: DataFrame, by: Seq[String], value: Column, splitCol: Column,
      groupA: String, groupB: String): DataFrame = {
    val tagged = df
      .filter(splitCol.isin(groupA, groupB))
      .select(segCols(by) ++ Seq(value.as("v"), (splitCol === groupA).as("is_a")): _*)
    val gKey = segKeys(by)
    val perValue = tagged.groupBy((gKey :+ "v").map(col): _*).agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
    val cum = runningTotalsBy(perValue, gKey, Seq("ca", "cb"), withNextV = true)
    val tot = perValue.groupBy(gKey.map(col): _*)
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
    val joined = attach(cum, tot, gKey)
    // exact integer numerator: |cumA·n_b − cumB·n_a| · (next_v − v),
    // decimal BEFORE the multiply (the mannWhitneyU discipline); the
    // last value has no successor and contributes 0 mass
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val term = abs(col("cum_ca").cast(dec38) * col("n_b") -
        col("cum_cb").cast(dec38) * col("n_a")) *
      coalesce((col("next_v") - col("v")).cast(dec38), lit(0L))
    joined.groupBy(gKey.map(col): _*)
      .agg(
        first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        sum(term).as("__num"))
      .select(gKey.map(col) ++ Seq(col("n_a"), col("n_b"),
        round(col("__num").cast(DoubleType) /
          (col("n_a").cast(dec38) * col("n_b")).cast(DoubleType), 6).as("w1_dist")): _*)
  }

  /** Spearman rank correlation between two numeric columns — the
    * monotone-association gate (feature-vs-quality screening, signal
    * sanity checks) that is robust where Pearson is not: it sees ranks,
    * not values, so heavy tails and nonlinearity don't distort it. Ties
    * get AVERAGE ranks (the standard tie rule), carried as exact-integer
    * DOUBLED ranks: for a value with `cnt_lt` rows strictly below and
    * `cnt` tied rows, 2·avgrank = 2·cnt_lt + cnt + 1 — the ×2 absorbs
    * the .5, the same algebra as [[mannWhitneyU]]. ρ is then Pearson on
    * the doubled ranks (the ×2 cancels): all five moments are exact
    * integers, combined in DECIMAL(38,0) (n·Sxy overflows BIGINT at
    * ~7·10^5 rows: Sxy ≤ 4n³), with the one double conversion at the
    * covariance/variance level — sqrt of each variance separately, since
    * the variance PRODUCT would overflow even 38 digits.
    *
    * Scale shape: per-column per-distinct-value counts aggregate
    * distributed (keyed shuffle on the value), cumulative counts run
    * through the distributed [[runningTotals]] scan (continuous values →
    * distinct ≈ rows; an ordered window would be the single-task
    * scale-killer), and the doubled ranks join BACK to the rows on the
    * value key — two keyed shuffles of slim (value, rank) relations.
    * Null rows (either side) are excluded up front, as scipy does. */
  def spearmanRho(df: DataFrame, xCol: Column, yCol: Column): DataFrame =
    spearmanRhoCore(df, Nil, xCol, yCol, _ / _)

  /** Per-`byCol`-group Spearman ρ — "does the monotone association hold
    * in EVERY segment, or is the global ρ a mix?" (Simpson's-paradox
    * screening for feature/quality signals). Exactly [[spearmanRho]]'s
    * doubled-rank algebra with the group riding every key — ranks are
    * within-group by construction. Groups with < 2 rows or a constant
    * column have zero variance and yield a NULL ρ (`try_divide` — under
    * ANSI a plain 0/0 would kill the WHOLE query over one degenerate
    * segment), kept in the output so the caller sees the segment rather
    * than losing it. */
  def spearmanRhoBy(
      df: DataFrame, xCol: Column, yCol: Column, byCol: String): DataFrame =
    bySegment(spearmanRhoCore(df, Seq(byCol), xCol, yCol, try_divide(_, _)), byCol)

  private def spearmanRhoCore(df: DataFrame, by: Seq[String], xCol: Column, yCol: Column,
      divide: (Column, Column) => Column): DataFrame = {
    val keys = segKeys(by)
    // Not materialized: three consumers (two rank scans + the join-back),
    // but a pruned source re-scan measures cheaper than the checkpoint
    // round-trip.
    val rows = df.select(segCols(by) ++ Seq(xCol.as("x"), yCol.as("y")): _*)
      .filter(col("x").isNotNull && col("y").isNotNull)
    def ranks2(c: String): DataFrame = {
      val perValue = rows.groupBy(keys.map(col) :+ col(c).as("v"): _*)
        .agg(count(lit(1)).as("cnt"))
      runningTotalsBy(perValue, keys, Seq("cnt"))
        .select(keys.map(col) ++ Seq(col("v").as(c),
          (lit(2L) * (col("cum_cnt") - col("cnt")) + col("cnt") + lit(1L)).as(s"r2_$c")): _*)
    }
    // Join strategy pinned (guide §3.1): BOTH sides of each rank
    // join-back are corpus-proportional (rows ≈ n, ranks ≈ distinct
    // values ≤ n), so neither may EVER broadcast — yet Spark's
    // post-projection size estimate shrinks the 600 K-row row side under
    // the auto-broadcast threshold and collects the whole fact table to
    // the driver (measured: the broadcast build dominated the query;
    // shuffled-hash measured 3.27 → 1.72 s at sf0.1, and at 100 TB a
    // corpus broadcast is an OOM, not a plan choice). The rank side is
    // the build: slim (value, rank) rows, per-partition build bounded by
    // distinct-values / shuffle-partitions.
    val ranked = rows.join(ranks2("x").hint("shuffle_hash"), keys :+ "x")
      .join(ranks2("y").hint("shuffle_hash"), keys :+ "y")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val m = ranked.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(col("r2_x")).cast(dec38).as("sx"),
      sum(col("r2_y")).cast(dec38).as("sy"),
      // cast BEFORE multiplying: the rank-product sums are ~4n³, past
      // BIGINT at n ≈ 1.3M rows (per group) — the aggregation itself must
      // run in decimal for the documented exact-combination contract to
      // hold (the HUGEINT oracle's semantics), not just the final cast
      sum(col("r2_x").cast(dec38) * col("r2_y").cast(dec38)).as("sxy"),
      sum(col("r2_x").cast(dec38) * col("r2_x").cast(dec38)).as("sxx"),
      sum(col("r2_y").cast(dec38) * col("r2_y").cast(dec38)).as("syy"))
    val nD = col("n").cast(dec38)
    val cov = (nD * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
    val vx = (nD * col("sxx") - col("sx") * col("sx")).cast(DoubleType)
    val vy = (nD * col("syy") - col("sy") * col("sy")).cast(DoubleType)
    m.select(keys.map(col) ++ Seq(col("n"),
      round(divide(cov, sqrt(vx) * sqrt(vy)), 6).as("rho")): _*)
  }

  /** Kendall τ-b between two DISCRETE/ordinal columns — the tie-robust
    * companion to [[spearmanRho]] (Spearman rides the full rank scan for
    * continuous values; Kendall's pairwise definition is O(n²) over ROWS
    * but exact and bounded over the CONTINGENCY-CELL domain, the
    * [[mutualInformation]] shape): concordant/discordant pair counts are
    * Σ over cell pairs of n_c·n_c' with the strict-inequality pattern,
    * an O(cells²) fold over ONE collected array bounded by |X|·|Y| — the
    * caller's precondition, same as MI/χ². Marginal tie-pair counts n1 =
    * Σ t_x(t_x−1)/2 and n2 aggregate DISTRIBUTED before the collapse.
    * All counts are exact integers (P, Q ≤ n²/2 fit 63 bits to ~10⁹
    * rows), so only the final τ_b division is floating — each variance
    * factor converts to double separately (their product would need
    * ~2×63 bits). Emits P and Q exactly: the oracle compare is
    * float-free for the pair counts themselves. */
  def kendallTauB(df: DataFrame, xCol: Column, yCol: Column): DataFrame =
    kendallTauBCore(df, Nil, xCol, yCol, "kendallTauB")

  /** Per-`byCol`-segment Kendall τ-b — the tie-robust association gate in
    * every segment (completing the grouped association family next to
    * [[spearmanRhoBy]]: "does the ordinal association hold per segment,
    * or is the global τ a mixture artifact?"). Exactly [[kendallTauB]]
    * with the segment riding every key: marginal tie pairs re-aggregate
    * per segment, and each segment's O(cells²) pair fold runs over its
    * OWN collected array (each bounded by the per-group
    * [[MaxContingencyCells]] gate). */
  def kendallTauBBy(
      df: DataFrame, xCol: Column, yCol: Column, byCol: String): DataFrame =
    bySegment(kendallTauBCore(df, Seq(byCol), xCol, yCol, "kendallTauBBy"), byCol)

  private def kendallTauBCore(
      df: DataFrame, by: Seq[String], xCol: Column, yCol: Column, op: String): DataFrame = {
    val keys = segKeys(by)
    val kc = keys.map(col)
    val cells = guardedCells(
      df.select(segCols(by) ++ Seq(xCol.as("x"), yCol.as("y")): _*)
        .filter(col("x").isNotNull && col("y").isNotNull),
      keys, op)
    val tiesX = cells.groupBy(kc :+ col("x"): _*).agg(sum(col("cnt")).as("tx"))
      .groupBy(kc: _*).agg(sum(expr("tx * (tx - 1) div 2")).as("n1"))
    val tiesY = cells.groupBy(kc :+ col("y"): _*).agg(sum(col("cnt")).as("ty"))
      .groupBy(kc: _*).agg(sum(expr("ty * (ty - 1) div 2")).as("n2"))
    val one = cellArray(cells, keys)
    def pairSum(cmp: (Column, Column) => Column): Column =
      aggregate(col("cs"), lit(0L), (acc, c) =>
        acc + c.getField("cnt") * aggregate(
          filter(col("cs"), o =>
            o.getField("x") > c.getField("x") && cmp(o.getField("y"), c.getField("y"))),
          lit(0L), (a, o) => a + o.getField("cnt")))
    val n0 = expr("n * (n - 1) div 2")
    val withPq = Seq(tiesX, tiesY).foldLeft(one.select(kc ++ Seq(col("n"),
        pairSum(_ > _).as("concordant"), pairSum(_ < _).as("discordant")): _*))(
      (l, ties) => attach(l, ties, keys, broadcastKeyed = false))
    withPq.select(kc ++ Seq(col("n"), col("concordant"), col("discordant"),
      round((col("concordant") - col("discordant")).cast(DoubleType) /
        (sqrt((n0 - col("n1")).cast(DoubleType)) * sqrt((n0 - col("n2")).cast(DoubleType))),
        6).as("tau_b")): _*)
  }
}
