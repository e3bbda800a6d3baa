package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.functions.{distinctTokens, tokens, TextAnalysis}

/** Corpus-curation pipeline stages beyond per-document scoring: source
  * mixing, incremental (batch-vs-corpus) dedup, split assignment, and the
  * fused keep/drop audit — the operators a production training-data run
  * chains between raw scan and tokenizer.
  *
  * All sampling decisions use the repo's portable deterministic hash
  * [[graft.functions.PortableHash.keyHash]]
  * (`((doc_id mod P) · A) mod P`, P = 1000000007, A = 2654435761) so
  * every engine (and every re-run) draws the same sample —
  * reproducibility is a correctness property for dataset releases, not
  * a convenience — and every intermediate stays in BIGINT for arbitrary
  * doc ids (the round-10 bootstrap overflow lesson, swept here in
  * round 11).
  */
object Curation {

  /** Default top-`v` vocabulary size for [[jsDivergence]] — shared with
    * the contract oracle (interpolated into its `LIMIT`) so the
    * operator and the SQL replay cannot silently drift. */
  val JsVocabSize = 256

  private val HashPrime = graft.functions.PortableHash.P

  private def docHash(c: org.apache.spark.sql.Column) =
    graft.functions.PortableHash.keyHash(c)

  /** Dolma/Pile-style source mixing: given target mixture `weights` and a
    * token budget (`budgetFrac` of the total corpus), derive each source's
    * deterministic sampling rate `min(1, target_tokens / avail_tokens)`
    * and take the hash-sample. Up-weighting (rate > 1 ⇒ repeat epochs) is
    * reported as rate 1.0 — epoch multiplication is the trainer's job.
    *
    * Scale: one per-source aggregation (tiny), a scalar total, a broadcast
    * of per-source rates back onto the scan, and the final per-source
    * rollup. The fact table is scanned twice (avail pass + sample pass) —
    * at 100 TB a caller would persist the per-doc token counts; the rate
    * table itself is |sources|-sized, never data-sized.
    *
    * The rate threshold is materialized as an INTEGER cut on the hash
    * (`floor(rate · P)`) so the keep decision is integer-exact and
    * engine-portable — no float `<` at the sampling boundary. */
  /** Capped waterfill token-budget allocator — the redistribution
    * [[dataMixture]] doesn't do: a single-pass `min(1, share/avail)`
    * cap LOSES the budget a saturated source couldn't absorb, so the
    * delivered mix under-spends whenever any source is scarce. The
    * waterfill reallocates overflow to unsaturated sources ∝ weight
    * until a fixpoint — the standard mixture move when per-source
    * availability caps bind (the water level θ = leftover/Σw over the
    * unsaturated set; a source saturates iff avail ≤ θ·w).
    *
    * Closed form instead of iteration: sort sources ascending by
    * avail/w — saturation is monotone along that order — then ONE
    * prefix scan finds the cutoff: the first row where
    * lrem·w < avail·remW (exact integer cross-products; lrem/remW =
    * budget minus the saturated prefix / weights from here on). Rows
    * before the cutoff saturate at avail; the cutoff row's (lrem, remW)
    * set the level and everyone after gets ⌊lrem·w/remW⌋ (floor crumbs
    * ≤ |unsaturated| tokens stay unspent — documented, not hidden).
    * The distributed work is ONE per-source aggregation; the scan folds
    * driver-side over the ≤ |sources| summary (model-sized, the PAVA
    * posture). The sort key avail/w is the IEEE double ratio — both
    * engines compute the identical key, ties break on source.
    * budgetPct < 100 guarantees the cutoff exists (B < Σ avail). */
  def mixtureWaterfill(
      documents: DataFrame, weights: Map[String, Long], budgetPct: Int): DataFrame = {
    require(budgetPct >= 1 && budgetPct < 100,
      s"mixtureWaterfill: budgetPct in [1, 100), got $budgetPct")
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "mixtureWaterfill: weights must be positive")
    val spark = documents.sparkSession
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("avail_tokens", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("weight", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("alloc_tokens", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("saturated",
        org.apache.spark.sql.types.BooleanType, nullable = false),
      org.apache.spark.sql.types.StructField("rate", DoubleType, nullable = true)))
    val srcRows = Robust.collectSummary(
      documents
        .select(col("source"), size(tokens(col("text"))).cast(LongType).as("n_toks"))
        .filter(col("source").isNotNull)
        .groupBy(col("source")).agg(sum(col("n_toks")).as("avail"))
        .withColumn("w", element_at(typedLit(weights), col("source")))
        .filter(col("w").isNotNull), // sources outside the mixture drop
      "mixtureWaterfill")
    val out = waterfillFold(
      srcRows.map(r => (r.getString(0), r.getAs[Long]("avail"), r.getAs[Long]("w"))),
      budgetPct)
      .map { a =>
        org.apache.spark.sql.Row(a.src, a.avail, a.w, a.alloc, a.saturated,
          if (a.avail > 0) r6(a.alloc.toDouble / a.avail.toDouble) else null)
      }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), outSchema)
      .orderBy(col("source"))
  }

  /** One waterfill allocation row of [[waterfillFold]]. */
  private[graft] final case class WfAlloc(
      src: String, avail: Long, w: Long, alloc: Long, saturated: Boolean)

  /** The closed-form cutoff scan from [[mixtureWaterfill]]'s docstring,
    * over an (unsorted) (source, avail, weight) summary — the driver
    * fold SHARED by [[mixtureWaterfill]] (supply = raw availability)
    * and [[mixturePlanV2]] (supply = epoch-priced effective tokens), so
    * the coupled plan cannot drift from the standalone allocator.
    * Returns rows in ascending avail/w order; callers re-sort. */
  private[graft] def waterfillFold(
      rows: Seq[(String, Long, Long)], budgetPct: Int): Seq[WfAlloc] = {
    val ss = rows.sortBy { case (src, avail, w) => (avail.toDouble / w.toDouble, src) }
    val total = ss.iterator.map(s => BigInt(s._2)).sum
    var lrem = total * budgetPct / 100 // floor
    var remW = ss.iterator.map(s => BigInt(s._3)).sum
    var level: Option[(BigInt, BigInt)] = None
    ss.map { case (src, avail, w) =>
      val sat = level.isEmpty && lrem * w >= BigInt(avail) * remW
      val alloc =
        if (sat) { lrem -= avail; remW -= w; avail }
        else {
          if (level.isEmpty) level = Some((lrem, remW))
          val (lc, wc) = level.get
          (lc * w / wc).toLong
        }
      WfAlloc(src, avail, w, alloc, sat)
    }
  }

  /** Data-constrained repeat-epochs allocator (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models"): when the token budget
    * exceeds a source's UNIQUE tokens, the trainer repeats epochs — and
    * repeated data is worth less each pass. Given mixture weights and a
    * budget over the deduped corpus, allocate each source its
    * proportional request, derive the epoch count it implies (capped at
    * `maxEpochs` — the paper's ~4-epochs-before-returns-vanish
    * finding), and price the allocation in EFFECTIVE tokens under a
    * per-epoch value decay of 1/2: m(E) = 2 − 2^(1−E), so E = 1..4 ⇒
    * ×{1, 1.5, 1.75, 1.875} — DYADIC multipliers, hence double-EXACT,
    * no transcendental anywhere (δ = 1/2 is the fixture; the paper fits
    * δ from loss curves — the allocator is the operator). Pricing is
    * CONTINUOUS in the request: full epochs at m(e), the funded
    * fraction of the last epoch at its marginal value 2^(−e) — a
    * request never pays for tokens it didn't fund, so utilization ≤ 1.
    *
    * Scale shape: one corpus-scale (source, text) dedup aggregation +
    * one per-source re-agg; the allocation folds driver-side over the
    * |sources|-row summary (the waterfill posture). All integer
    * arithmetic (BigInt cross-products, floor/ceil divisions) until the
    * one rounded utilization ratio — hash-exact by construction. */
  def repeatEpochs(
      documents: DataFrame, weights: Map[String, Long],
      budgetPct: Int = 200, maxEpochs: Int = 4): DataFrame = {
    require(budgetPct >= 1, s"repeatEpochs: budgetPct >= 1, got $budgetPct")
    require(maxEpochs >= 1 && maxEpochs <= 16, s"repeatEpochs: maxEpochs=$maxEpochs")
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "repeatEpochs: weights must be positive")
    val spark = documents.sparkSession
    import org.apache.spark.sql.types._
    val perSrc = Robust.collectSummary(
      documents
        .filter(col("source").isNotNull && col("text").isNotNull)
        .select(col("source"), col("text"),
          size(tokens(col("text"))).cast(LongType).as("n_toks"))
        .groupBy(col("source"), col("text"))
        .agg(max(col("n_toks")).as("n_toks"), count(lit(1)).as("copies"))
        .groupBy(col("source"))
        .agg(sum(col("n_toks")).as("u"),
          sum(col("n_toks") * col("copies")).as("tot"))
        .withColumn("w", element_at(typedLit(weights), col("source")))
        .filter(col("w").isNotNull), // sources outside the mixture drop
      "repeatEpochs")
      .map(r => (r.getString(0), r.getAs[Long]("u"), r.getAs[Long]("tot"),
        r.getAs[Long]("w")))
      .sortBy(_._1)
    val sumU = perSrc.iterator.map(s => BigInt(s._2)).sum
    val sumW = perSrc.iterator.map(s => BigInt(s._4)).sum
    val budget = sumU * budgetPct / 100 // floor
    def mult(e: Int): Double = 2.0 - math.pow(2.0, 1 - e) // dyadic, exact
    val rows = perSrc.map { case (src, u, tot, w) =>
      val request = (budget * w / sumW).toLong // floor
      val epochs =
        if (u == 0L) 1
        else math.min(maxEpochs.toLong, math.max(1L, (request + u - 1) / u)).toInt
      // continuous-epoch pricing: eFull funded full epochs at m(eFull)
      // (m(0)=0 from the same formula), plus the funded FRACTION of
      // epoch eFull+1 at that epoch's marginal value 2^(−eFull) — the
      // paper's decay curve integrated over the request, not rounded up
      // to whole epochs. Tokens past the maxEpochs cap buy nothing, so
      // utilization never exceeds 1. Both terms are dyadic × integer ⇒
      // double-exact; no rounding until the one utilization ratio.
      val effective =
        if (u == 0L) 0.0
        else {
          val eFull = math.min(maxEpochs.toLong, request / u).toInt
          val partial = if (eFull >= maxEpochs) 0L else request - eFull * u
          u.toDouble * mult(eFull) + partial.toDouble * math.pow(2.0, -eFull)
        }
      val utilization =
        if (request > 0) r6(effective / request.toDouble) else null
      org.apache.spark.sql.Row(src, u, tot, w, request, epochs, effective,
        utilization)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("source", StringType, nullable = true),
        StructField("unique_tokens", LongType, nullable = false),
        StructField("total_tokens", LongType, nullable = false),
        StructField("weight", LongType, nullable = false),
        StructField("request_tokens", LongType, nullable = false),
        StructField("epochs", IntegerType, nullable = false),
        StructField("effective_tokens", DoubleType, nullable = false),
        StructField("utilization", DoubleType, nullable = true))))
      .orderBy(col("source"))
  }

  /** The continuous-epoch effective-tokens expression over alias `a`
    * (expects columns `u`, `e_full`, `partial`): the full-epoch
    * multiplier m(e_full) and the marginal value 2^(−e_full) of the
    * partial epoch as CASEs generated from the same Scala formulas —
    * shared by [[repeatEpochsSql]] and [[mixturePlanSql]]. */
  private def epochEffExpr(a: String, maxEpochs: Int): String = {
    val multCase = s"CASE $a.e_full " + (0 to maxEpochs).map(e =>
      s"WHEN $e THEN CAST(${2.0 - math.pow(2.0, 1 - e)} AS DOUBLE)").mkString(" ") +
      " END"
    val margCase = s"CASE $a.e_full " + (0 until maxEpochs).map(e =>
      s"WHEN $e THEN CAST(${math.pow(2.0, -e)} AS DOUBLE)").mkString(" ") +
      " ELSE CAST(0.0 AS DOUBLE) END"
    s"(CASE WHEN $a.u = 0 THEN CAST(0.0 AS DOUBLE) ELSE " +
      s"CAST($a.u AS DOUBLE) * $multCase + CAST($a.partial AS DOUBLE) * $margCase END)"
  }

  /** The repeat-epochs oracle CTE chain — aliases `pt/ps/j/g/ep/f`
    * suffixed with `sfx`, per-source weights read from `weightCte` (any
    * CTE exposing (source, w)) — the SHARED generator behind
    * [[repeatEpochsSql]], [[mixturePlanSql]] and [[mixturePlanV2Sql]]
    * (the reweightCtes convention: one stage oracle, every chained plan
    * derives from it, so an edit cannot desynchronize them). The final
    * CTE `f$sfx` carries (source, u, tot, w, request, epochs, e_full,
    * partial); [[epochEffExpr]](s"f$sfx") prices it. */
  private def epochsCtes(sfx: String, weightCte: String,
      budgetPct: Int, maxEpochs: Int): String =
    s"""pt$sfx AS MATERIALIZED (
       |  SELECT source, text,
       |         CAST(max(len(string_split(text, ' '))) AS BIGINT) AS n_toks,
       |         CAST(count(*) AS BIGINT) AS copies
       |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
       |  GROUP BY 1, 2),
       |ps$sfx AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS u,
       |              CAST(sum(n_toks * copies) AS BIGINT) AS tot
       |       FROM pt$sfx GROUP BY 1),
       |j$sfx AS (SELECT ps$sfx.source AS source, ps$sfx.u AS u, ps$sfx.tot AS tot,
       |              $weightCte.w AS w
       |      FROM ps$sfx JOIN $weightCte ON $weightCte.source = ps$sfx.source),
       |g$sfx AS (SELECT CAST(sum(u) AS BIGINT) AS su, CAST(sum(w) AS BIGINT) AS sw
       |      FROM j$sfx),
       |a$sfx AS (SELECT j$sfx.*, (g$sfx.su * $budgetPct // 100) * j$sfx.w // g$sfx.sw AS request
       |      FROM j$sfx, g$sfx),
       |ep$sfx AS (SELECT a$sfx.*,
       |             CAST(CASE WHEN a$sfx.u = 0 THEN 1
       |                  ELSE least($maxEpochs, greatest(1, (a$sfx.request + a$sfx.u - 1) // a$sfx.u))
       |                  END AS INT) AS epochs,
       |             CASE WHEN a$sfx.u = 0 THEN CAST(0 AS BIGINT)
       |                  ELSE least(CAST($maxEpochs AS BIGINT), a$sfx.request // a$sfx.u)
       |                  END AS e_full
       |      FROM a$sfx),
       |f$sfx AS MATERIALIZED (
       |  SELECT ep$sfx.*,
       |         CASE WHEN ep$sfx.u = 0 OR ep$sfx.e_full >= $maxEpochs THEN CAST(0 AS BIGINT)
       |              ELSE ep$sfx.request - ep$sfx.e_full * ep$sfx.u END AS partial
       |  FROM ep$sfx)""".stripMargin

  /** The ratio-ordered waterfill fold — aliases `t/r/s/cut/wf` suffixed
    * with `sfx` — over `supplyCte` exposing (source, avail, w): the
    * closed-form cutoff scan from [[mixtureWaterfill]]'s docstring as
    * SQL, SHARED by the q_mixture_waterfill oracle and both chained
    * mixture plans. `wf$sfx` carries (source, avail, w, alloc_tokens,
    * saturated); callers shape the final select. Requires the caller's
    * budget < 100% of supply so the cutoff row exists (the operator's
    * own precondition). */
  private[graft] def waterfillCtes(sfx: String, supplyCte: String,
      budgetPct: Int): String =
    s"""t$sfx AS (SELECT CAST(sum(avail) AS HUGEINT) AS total FROM $supplyCte),
       |r$sfx AS (SELECT source, avail, w,
       |              row_number() OVER (ORDER BY CAST(avail AS DOUBLE) / w, source) AS rn,
       |              coalesce(sum(avail) OVER (ORDER BY CAST(avail AS DOUBLE) / w, source
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefa,
       |              sum(w) OVER (ORDER BY CAST(avail AS DOUBLE) / w, source
       |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS remw
       |       FROM $supplyCte),
       |s$sfx AS MATERIALIZED (
       |  SELECT r$sfx.*, CAST((t$sfx.total * $budgetPct) // 100 - r$sfx.prefa AS HUGEINT) AS lrem
       |  FROM r$sfx, t$sfx),
       |cut$sfx AS MATERIALIZED (
       |  SELECT rn AS crn, lrem AS lc, CAST(remw AS HUGEINT) AS wc FROM s$sfx
       |  WHERE NOT (lrem * w >= CAST(avail AS HUGEINT) * remw)
       |  ORDER BY rn LIMIT 1),
       |wf$sfx AS MATERIALIZED (
       |  SELECT s$sfx.source AS source, s$sfx.avail AS avail, s$sfx.w AS w,
       |         CAST(CASE WHEN s$sfx.rn < cut$sfx.crn THEN s$sfx.avail
       |                   ELSE (cut$sfx.lc * s$sfx.w) // cut$sfx.wc END AS BIGINT) AS alloc_tokens,
       |         s$sfx.rn < cut$sfx.crn AS saturated
       |  FROM s$sfx, cut$sfx)""".stripMargin

  /** DuckDB oracle for [[repeatEpochs]] — the shared epochs chain with
    * the dyadic multipliers generated from the same formula. */
  def repeatEpochsSql(weights: Map[String, Long],
      budgetPct: Int = 200, maxEpochs: Int = 4): String = {
    val wRows = weights.toSeq.sortBy(_._1)
      .map { case (s, w) => s"('$s', CAST($w AS BIGINT))" }.mkString(", ")
    val effExpr = epochEffExpr("f", maxEpochs)
    s"""WITH wt(source, w) AS (VALUES $wRows),
       |${epochsCtes("", "wt", budgetPct, maxEpochs)}
       |SELECT f.source AS source, f.u AS unique_tokens, f.tot AS total_tokens,
       |       f.w AS weight, CAST(f.request AS BIGINT) AS request_tokens,
       |       f.epochs AS epochs,
       |       $effExpr AS effective_tokens,
       |       CASE WHEN f.request > 0
       |            THEN round($effExpr / CAST(f.request AS DOUBLE), 6)
       |            END AS utilization
       |FROM f ORDER BY source""".stripMargin
  }

  /** The end-to-end mixture PLAN — the composition a production run
    * actually executes: [[mixtureReweight]] derives per-source weights
    * from measured quality (EG on excess loss), [[repeatEpochs]] prices
    * each source's proportional request in effective tokens under the
    * repeat-decay curve, and [[mixtureWaterfill]] allocates a capped
    * budget against per-source availability with overflow
    * redistribution. One row per source carrying all three stages'
    * outputs, plus four in-plan invariant booleans the chain must
    * satisfy: the derived weights sum to 1 (6dp rounding slack), no
    * request is priced above what it funded (utilization ≤ 1 — the
    * continuous-pricing contract), no allocation exceeds availability,
    * and the total allocation respects the waterfill budget (integer
    * cross-multiplied, no division).
    *
    * Scale shape: each stage is one corpus-scale aggregation over the
    * shared checkpointed (doc_id, text, source) projection (scanned
    * once per stage — at 100 TB a caller persists the per-doc token
    * counts instead); everything downstream is |sources|-row algebra.
    * The weight handoff is a model-sized collect (the fixed vocabulary)
    * quantized to integer micro-units — the same exact-integer contract
    * the two allocators already require. */
  def mixturePlan(
      spark: org.apache.spark.sql.SparkSession,
      documents: DataFrame,
      epochsBudgetPct: Int = 200,
      wfBudgetPct: Int = 90): DataFrame = {
    val base = documents.select(col("doc_id"), col("text"), col("source"))
      .localCheckpoint(false)
    val rw = mixtureReweight(spark, base)
    val wMap = rw.select(col("source"), col("weight")).collect() // |Sources| rows
      .map(r => r.getString(0) -> math.round(r.getDouble(1) * 1e6)).toMap
    val re = repeatEpochs(base, wMap, budgetPct = epochsBudgetPct)
    val wf = mixtureWaterfill(base, wMap, budgetPct = wfBudgetPct)
    val plan = rw.select(col("source"), col("weight"))
      .join(re.select(col("source"), col("weight").as("w_micro"),
        col("request_tokens"), col("epochs"), col("effective_tokens")), Seq("source"))
      .join(wf.select(col("source"), col("avail_tokens"), col("alloc_tokens"),
        col("saturated")), Seq("source"))
      .localCheckpoint(false) // one barrier: plan rows + the invariant rollup
    // the simplex invariant lives on the FULL-vocabulary weight table:
    // the joined plan only carries sources present in the corpus, and a
    // slice missing a source must not read as a simplex violation
    val wsum = rw.agg(
      (abs(sum(col("weight")) - lit(1.0)) <= lit(2.0e-5)).as("weights_sum_ok"))
    val inv = plan.agg(
      (sum(when(col("effective_tokens") >
        col("request_tokens").cast("double"), 1L).otherwise(0L)) === 0L)
        .as("priced_within_request"),
      (sum(when(col("alloc_tokens") > col("avail_tokens"), 1L).otherwise(0L)) === 0L)
        .as("alloc_within_avail"),
      (sum(col("alloc_tokens")) * lit(100L) <=
        sum(col("avail_tokens")) * lit(wfBudgetPct.toLong)).as("alloc_within_budget"))
    plan.crossJoin(broadcast(wsum)).crossJoin(broadcast(inv))
      .orderBy(col("source"))
  }

  /** DuckDB oracle for [[mixturePlan]] — the three stage oracles
    * CHAINED: the reweight prelude's weight CASE feeds an integer
    * micro-weight CTE, which drives the repeat-epochs chain and the
    * ratio-ordered waterfill fold, all from the shared generators
    * (every multiply-referenced stage MATERIALIZED — the
    * q_louvain_rounds lesson). */
  def mixturePlanSql(epochsBudgetPct: Int = 200, wfBudgetPct: Int = 90,
      maxEpochs: Int = 4): String = {
    // the operator's stage preconditions, enforced at generation time
    // too: wfBudgetPct >= 100 would leave the waterfill cut CTE empty
    // and silently collapse the oracle to zero rows instead of failing
    require(epochsBudgetPct >= 1,
      s"mixturePlanSql: epochsBudgetPct >= 1, got $epochsBudgetPct")
    require(wfBudgetPct >= 1 && wfBudgetPct < 100,
      s"mixturePlanSql: wfBudgetPct in [1, 100), got $wfBudgetPct")
    require(maxEpochs >= 1 && maxEpochs <= 16,
      s"mixturePlanSql: maxEpochs=$maxEpochs")
    val (ctes, weightCase) = reweightCtes(ReweightEta, ReweightIters)
    val effExpr = epochEffExpr("f2", maxEpochs)
    s"""WITH $ctes,
       |wm AS MATERIALIZED (
       |  SELECT e.source AS source, $weightCase AS weight,
       |         CAST(round($weightCase * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS w
       |  FROM e),
       |${epochsCtes("2", "wm", epochsBudgetPct, maxEpochs)},
       |dt3 AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |        FROM documents WHERE source IS NOT NULL),
       |av3 AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS avail FROM dt3 GROUP BY 1),
       |sw3 AS (SELECT av3.source AS source, av3.avail AS avail, wm.w AS w
       |        FROM av3 JOIN wm ON wm.source = av3.source),
       |${waterfillCtes("3", "sw3", wfBudgetPct)},
       |plan0 AS MATERIALIZED (
       |  SELECT wm.source AS source, wm.weight AS weight, wm.w AS w_micro,
       |         CAST(f2.request AS BIGINT) AS request_tokens,
       |         f2.epochs AS epochs,
       |         $effExpr AS effective_tokens,
       |         wf3.avail AS avail_tokens, wf3.alloc_tokens AS alloc_tokens,
       |         wf3.saturated AS saturated
       |  FROM wm
       |  JOIN f2 ON f2.source = wm.source
       |  JOIN wf3 ON wf3.source = wm.source),
       |wsum AS MATERIALIZED (
       |  SELECT (abs(sum(weight) - CAST(1.0 AS DOUBLE)) <= CAST(2.0e-5 AS DOUBLE))
       |           AS weights_sum_ok
       |  FROM wm),
       |inv AS MATERIALIZED (
       |  SELECT (sum(CASE WHEN effective_tokens > CAST(request_tokens AS DOUBLE)
       |                   THEN 1 ELSE 0 END) = 0) AS priced_within_request,
       |         (sum(CASE WHEN alloc_tokens > avail_tokens THEN 1 ELSE 0 END) = 0)
       |           AS alloc_within_avail,
       |         (CAST(sum(alloc_tokens) AS HUGEINT) * 100 <=
       |          CAST(sum(avail_tokens) AS HUGEINT) * $wfBudgetPct)
       |           AS alloc_within_budget
       |  FROM plan0)
       |SELECT plan0.*, wsum.*, inv.* FROM plan0, wsum, inv ORDER BY source""".stripMargin
  }

  /** Floor of the continuous-epoch effective-token price — the COUPLED
    * plan's waterfill supply — in PURE integer arithmetic: effective =
    * u·m(e_full) + partial·2^(−e_full) has denominator 2^maxEpochs, so
    * scaling by 2^maxEpochs makes the numerator an exact integer and
    * one floor-division recovers ⌊effective⌋ with no float anywhere
    * (the micro-unit discipline applied to the dyadic decay curve). */
  private[graft] def effFloor(u: Long, request: Long, maxEpochs: Int): Long =
    if (u == 0L) 0L
    else {
      val scale = 1L << maxEpochs
      val eFull = math.min(maxEpochs.toLong, request / u).toInt
      val partial = if (eFull >= maxEpochs) 0L else request - eFull * u
      val multNum = 2 * scale - (1L << (maxEpochs + 1 - eFull))
      val margNum = if (eFull >= maxEpochs) 0L else 1L << (maxEpochs - eFull)
      (u * multNum + partial * margNum) / scale
    }

  /** [[effFloor]] as DuckDB SQL over the epochs-chain alias `a`
    * (columns `u`, `e_full`, `partial`) — CASEs generated from the same
    * powers of two. */
  private def effFloorExpr(a: String, maxEpochs: Int): String = {
    val scale = 1L << maxEpochs
    val multCase = s"CASE $a.e_full " + (0 to maxEpochs).map(e =>
      s"WHEN $e THEN ${2 * scale - (1L << (maxEpochs + 1 - e))}").mkString(" ") +
      " END"
    val margCase = s"CASE $a.e_full " + (0 until maxEpochs).map(e =>
      s"WHEN $e THEN ${1L << (maxEpochs - e)}").mkString(" ") + " ELSE 0 END"
    s"(CASE WHEN $a.u = 0 THEN CAST(0 AS BIGINT) ELSE " +
      s"CAST(($a.u * ($multCase) + $a.partial * ($margCase)) // $scale AS BIGINT) END)"
  }

  /** The COUPLED mixture plan — [[mixturePlan]] with the allocator fed
    * what pricing says the tokens are WORTH: [[mixturePlan]] waterfills
    * against raw per-source availability while [[repeatEpochs]] prices
    * the same weights' requests in effective tokens, so a saturated
    * scarce source could be "allocated" raw tokens whose repeat-decayed
    * value is lower. Here each source's waterfill SUPPLY is
    * ⌊effective_tokens⌋ from the epoch pricing ([[effFloor]] — exact
    * integer), so alloc ≤ effective BY CONSTRUCTION and the budget is
    * spent in value units: reweight → price → waterfill-over-effective,
    * the chain a production allocator runs. In-plan invariants: the
    * weight simplex (full-vocabulary table, the [[mixturePlan]]
    * convention), pricing ≤ request, the COUPLED alloc ≤ effective, and
    * Σalloc within the waterfill budget over the priced supply.
    *
    * Scale shape: identical to [[mixturePlan]] — per-stage corpus
    * aggregations over one checkpointed projection, |sources|-row
    * driver algebra ([[waterfillFold]] shared with the standalone
    * allocator), model-sized weight handoff. */
  def mixturePlanV2(
      spark: org.apache.spark.sql.SparkSession,
      documents: DataFrame,
      epochsBudgetPct: Int = 200,
      wfBudgetPct: Int = 90,
      maxEpochs: Int = 4): DataFrame = {
    require(wfBudgetPct >= 1 && wfBudgetPct < 100,
      s"mixturePlanV2: wfBudgetPct in [1, 100), got $wfBudgetPct")
    import org.apache.spark.sql.types._
    val base = documents.select(col("doc_id"), col("text"), col("source"))
      .localCheckpoint(false)
    val rw = mixtureReweight(spark, base)
    val wMap = rw.select(col("source"), col("weight")).collect() // |Sources| rows
      .map(r => r.getString(0) -> math.round(r.getDouble(1) * 1e6)).toMap
    val re = repeatEpochs(base, wMap, budgetPct = epochsBudgetPct,
      maxEpochs = maxEpochs)
    // |sources|-row handoff: price → integer supply → shared fold
    val priced = re.select(col("source"), col("weight"), col("unique_tokens"),
      col("request_tokens"), col("epochs"), col("effective_tokens")).collect()
      .map(r => (r.getString(0), r.getAs[Long]("weight"),
        r.getAs[Long]("unique_tokens"), r.getAs[Long]("request_tokens"),
        r.getAs[Int]("epochs"), r.getAs[Double]("effective_tokens")))
      .sortBy(_._1)
    val alloc = waterfillFold(
      priced.map { case (s, w, u, req, _, _) => (s, effFloor(u, req, maxEpochs), w) },
      wfBudgetPct).iterator.map(a => a.src -> a).toMap
    val rows = priced.map { case (s, w, _, req, ep, eff) =>
      val a = alloc(s)
      org.apache.spark.sql.Row(s, w, req, ep, eff, a.avail, a.alloc, a.saturated)
    }
    val created = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("source", StringType, nullable = true),
        StructField("w_micro", LongType, nullable = false),
        StructField("request_tokens", LongType, nullable = false),
        StructField("epochs", IntegerType, nullable = false),
        StructField("effective_tokens", DoubleType, nullable = false),
        StructField("supply_tokens", LongType, nullable = false),
        StructField("alloc_tokens", LongType, nullable = false),
        StructField("saturated", BooleanType, nullable = false))))
    val plan = rw.select(col("source"), col("weight"))
      .join(created, Seq("source"))
      .localCheckpoint(false) // one barrier: plan rows + the invariant rollup
    val wsum = rw.agg(
      (abs(sum(col("weight")) - lit(1.0)) <= lit(2.0e-5)).as("weights_sum_ok"))
    val inv = plan.agg(
      (sum(when(col("effective_tokens") >
        col("request_tokens").cast("double"), 1L).otherwise(0L)) === 0L)
        .as("priced_within_request"),
      (sum(when(col("alloc_tokens").cast("double") > col("effective_tokens"), 1L)
        .otherwise(0L)) === 0L).as("alloc_within_effective"),
      (sum(col("alloc_tokens")) * lit(100L) <=
        sum(col("supply_tokens")) * lit(wfBudgetPct.toLong)).as("alloc_within_budget"))
    plan.crossJoin(broadcast(wsum)).crossJoin(broadcast(inv))
      .orderBy(col("source"))
  }

  /** DuckDB oracle for [[mixturePlanV2]] — the reweight prelude, the
    * SHARED epochs chain, the integer effective-floor supply, and the
    * SHARED waterfill fold, all from the same generators as the stage
    * oracles. */
  def mixturePlanV2Sql(epochsBudgetPct: Int = 200, wfBudgetPct: Int = 90,
      maxEpochs: Int = 4): String = {
    require(epochsBudgetPct >= 1,
      s"mixturePlanV2Sql: epochsBudgetPct >= 1, got $epochsBudgetPct")
    require(wfBudgetPct >= 1 && wfBudgetPct < 100,
      s"mixturePlanV2Sql: wfBudgetPct in [1, 100), got $wfBudgetPct")
    require(maxEpochs >= 1 && maxEpochs <= 16,
      s"mixturePlanV2Sql: maxEpochs=$maxEpochs")
    val (ctes, weightCase) = reweightCtes(ReweightEta, ReweightIters)
    val effExpr = epochEffExpr("f2", maxEpochs)
    val supExpr = effFloorExpr("f2", maxEpochs)
    s"""WITH $ctes,
       |wm AS MATERIALIZED (
       |  SELECT e.source AS source, $weightCase AS weight,
       |         CAST(round($weightCase * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS w
       |  FROM e),
       |${epochsCtes("2", "wm", epochsBudgetPct, maxEpochs)},
       |sup2 AS MATERIALIZED (
       |  SELECT f2.source AS source, $supExpr AS avail, f2.w AS w FROM f2),
       |${waterfillCtes("3", "sup2", wfBudgetPct)},
       |plan0 AS MATERIALIZED (
       |  SELECT wm.source AS source, wm.weight AS weight, wm.w AS w_micro,
       |         CAST(f2.request AS BIGINT) AS request_tokens,
       |         f2.epochs AS epochs,
       |         $effExpr AS effective_tokens,
       |         wf3.avail AS supply_tokens, wf3.alloc_tokens AS alloc_tokens,
       |         wf3.saturated AS saturated
       |  FROM wm
       |  JOIN f2 ON f2.source = wm.source
       |  JOIN wf3 ON wf3.source = wm.source),
       |wsum AS MATERIALIZED (
       |  SELECT (abs(sum(weight) - CAST(1.0 AS DOUBLE)) <= CAST(2.0e-5 AS DOUBLE))
       |           AS weights_sum_ok
       |  FROM wm),
       |inv AS MATERIALIZED (
       |  SELECT (sum(CASE WHEN effective_tokens > CAST(request_tokens AS DOUBLE)
       |                   THEN 1 ELSE 0 END) = 0) AS priced_within_request,
       |         (sum(CASE WHEN CAST(alloc_tokens AS DOUBLE) > effective_tokens
       |                   THEN 1 ELSE 0 END) = 0) AS alloc_within_effective,
       |         (CAST(sum(alloc_tokens) AS HUGEINT) * 100 <=
       |          CAST(sum(supply_tokens) AS HUGEINT) * $wfBudgetPct)
       |           AS alloc_within_budget
       |  FROM plan0)
       |SELECT plan0.*, wsum.*, inv.* FROM plan0, wsum, inv ORDER BY source""".stripMargin
  }

  /** Padding-waste audit — the batch-shape cost a trainer actually
    * pays: every sequence in a batch is padded to the batch's sequence
    * length, and padded positions buy nothing. Compares FLAT padding
    * (every sequence padded to `maxLen`) with length-BUCKETED batching
    * (B equal-width length buckets, each sequence padded to its
    * bucket's upper edge k·maxLen/B — the standard bucketed-batching
    * move). Per bucket: doc count, real token sum, the padded length,
    * and the waste under both strategies; every row also carries the
    * overall waste fractions and the in-plan invariant that bucketing
    * never wastes MORE than flat padding (true by construction — each
    * sequence's bucketed pad target is ≤ maxLen). Sequences longer
    * than `maxLen` are counted truncated to `maxLen` (waste 0 here;
    * truncation LOSS is the packing family's audit, not padding's).
    *
    * Scale shape: one corpus scan to per-doc token counts, one B-row
    * keyed rollup, a broadcast 1-row total — all exact integers with
    * two rounded fractions. The [[datasetSplit]] posture. */
  def paddingWaste(
      documents: DataFrame, maxLen: Int = 256, buckets: Int = 8): DataFrame = {
    require(maxLen >= 1 && buckets >= 1 && maxLen % buckets == 0,
      s"paddingWaste: buckets ($buckets) must divide maxLen ($maxLen)")
    val bw = (maxLen / buckets).toLong
    val n = size(tokens(col("text"))).cast(LongType)
    val nc = least(n, lit(maxLen.toLong))
    // integer ceil division (nc·B / L) with the ≥1 floor for empty-ish
    // rows — the numerator is ≤ maxLen·(B+1), far inside double
    // exactness, so the floor division is exact
    val k = greatest(lit(1L),
      floor((nc * buckets + lit(maxLen.toLong - 1L)) / lit(maxLen.toDouble))
        .cast(LongType))
    val per = documents
      .select(k.as("bucket"), nc.as("nc"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("sum_tokens"),
        sum(col("bucket") * bw - col("nc")).as("waste_bucketed"),
        sum(lit(maxLen.toLong) - col("nc")).as("waste_flat"))
      .localCheckpoint(false) // two consumers: rows + the totals rollup
    val tot = per.agg(
      sum(col("n_docs")).as("t_docs"),
      sum(col("sum_tokens")).as("t_tokens"),
      sum(col("waste_bucketed")).as("t_wb"),
      sum(col("waste_flat")).as("t_wf"))
    per.crossJoin(broadcast(tot))
      .select(col("bucket"), (col("bucket") * bw).as("padded_to"),
        col("n_docs"), col("sum_tokens"),
        col("waste_bucketed"), col("waste_flat"),
        round(col("sum_tokens").cast(DoubleType) /
          (col("n_docs") * col("bucket") * bw).cast(DoubleType), 6).as("util"),
        round(col("t_wb").cast(DoubleType) /
          (col("t_tokens") + col("t_wb")).cast(DoubleType), 6)
          .as("waste_frac_bucketed"),
        round(col("t_wf").cast(DoubleType) /
          (col("t_docs") * lit(maxLen.toLong)).cast(DoubleType), 6)
          .as("waste_frac_flat"),
        (col("t_wb") <= col("t_wf")).as("bucketed_no_worse"))
      .orderBy(col("bucket"))
  }

  /** DuckDB oracle for [[paddingWaste]] — the same integer chain with
    * the bucket arithmetic interpolated from the same constants. */
  def paddingWasteSql(maxLen: Int = 256, buckets: Int = 8): String = {
    require(maxLen >= 1 && buckets >= 1 && maxLen % buckets == 0,
      s"paddingWasteSql: buckets ($buckets) must divide maxLen ($maxLen)")
    val bw = maxLen / buckets
    s"""WITH dt AS (
       |  SELECT least(CAST(len(string_split(text, ' ')) AS BIGINT),
       |               CAST($maxLen AS BIGINT)) AS nc
       |  FROM documents),
       |kb AS (SELECT greatest(CAST(1 AS BIGINT),
       |              (nc * $buckets + ${maxLen - 1}) // $maxLen) AS bucket, nc
       |       FROM dt),
       |per AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       |               CAST(sum(nc) AS BIGINT) AS sum_tokens,
       |               CAST(sum(bucket * $bw - nc) AS BIGINT) AS waste_bucketed,
       |               CAST(sum($maxLen - nc) AS BIGINT) AS waste_flat
       |        FROM kb GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
       |               CAST(sum(sum_tokens) AS BIGINT) AS t_tokens,
       |               CAST(sum(waste_bucketed) AS BIGINT) AS t_wb,
       |               CAST(sum(waste_flat) AS BIGINT) AS t_wf
       |        FROM per)
       |SELECT per.bucket AS bucket,
       |       CAST(per.bucket * $bw AS BIGINT) AS padded_to,
       |       per.n_docs AS n_docs, per.sum_tokens AS sum_tokens,
       |       per.waste_bucketed AS waste_bucketed, per.waste_flat AS waste_flat,
       |       round(CAST(per.sum_tokens AS DOUBLE) /
       |             CAST(per.n_docs * per.bucket * $bw AS DOUBLE), 6) AS util,
       |       round(CAST(tot.t_wb AS DOUBLE) /
       |             CAST(tot.t_tokens + tot.t_wb AS DOUBLE), 6) AS waste_frac_bucketed,
       |       round(CAST(tot.t_wf AS DOUBLE) /
       |             CAST(tot.t_docs * $maxLen AS DOUBLE), 6) AS waste_frac_flat,
       |       (tot.t_wb <= tot.t_wf) AS bucketed_no_worse
       |FROM per, tot ORDER BY bucket""".stripMargin
  }

  /** The corpus's source domain — a fixed 20-name vocabulary on the
    * shipped data (asserted at run time, the [[Preference.Items]]
    * convention): the unrolled EG oracle derives its column set and
    * left-associated normalizer sums from this single constant. */
  val Sources: IndexedSeq[String] = (0 until 20).map(i => s"src$i").sorted

  /** EG reweighting defaults, shared with the generated oracle. */
  val ReweightEta = 1.0
  val ReweightIters = 5

  private def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
    .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    * the mixture family's missing feedback loop — [[dataMixture]] and
    * [[mixtureWaterfill]] allocate under GIVEN weights; this derives
    * the weights, by exponentiated-gradient ascent on per-domain excess
    * loss (hard/underfit domains upweight multiplicatively, then the
    * simplex renormalizes). The loss proxy here is 1 − avg LR quality
    * per source (no trained reference model exists in this harness; a
    * production run feeds real per-domain excess losses into the same
    * fold — the update rule is the operator, the proxy is the fixture).
    *
    * Scale shape: ONE corpus-scale aggregation (per-source doc count +
    * exact DECIMAL(8,6) quality sum — map-side partial); the EG fold
    * then runs on the collected |Sources|-row summary (a fixed 20-name
    * vocabulary — model-sized, the win-matrix posture). Exactness: each
    * iteration rounds to 6dp (raw = round6(w·exp(η·e)), w' =
    * round6(raw/Z)) with Z the LEFT-ASSOCIATED sum over source-sorted
    * 6dp raws — identical IEEE ops in identical order on both engines,
    * so the weight trajectory replays hash-exactly in the unrolled
    * DuckDB twin (the Bradley–Terry MM discipline; exp at 6dp is the
    * established quality-sigmoid precedent). */
  def mixtureReweight(
      spark: org.apache.spark.sql.SparkSession,
      documents: DataFrame,
      eta: Double = ReweightEta, iters: Int = ReweightIters,
      sources: IndexedSeq[String] = Sources): DataFrame = {
    import org.apache.spark.sql.types._
    val perSrc = qualityScoreRaw(documents)
      .join(documents.select(col("doc_id"), col("source")), Seq("doc_id"))
      .filter(col("source").isNotNull)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("quality").cast(DecimalType(8, 6))).cast(DoubleType)
          / count(lit(1)), 6).as("avg_quality"))
      .collect() // model-sized: the fixed |Sources| vocabulary
      .map(r => (r.getString(0), r.getAs[Long]("n_docs"), r.getAs[Double]("avg_quality")))
      .sortBy(_._1)
    egReweightTable(spark, perSrc.toIndexedSeq, eta, iters, sources)
  }

  /** The EG fold + result table shared by [[mixtureReweight]] and the
    * streaming monitor: `perSrc` is the source-sorted (source, n_docs,
    * avg_quality) summary — model-sized — and every float op runs in
    * the same fixed order on both callers, so streamed ≡ batch is
    * bitwise. Sources in the fixed vocabulary but absent from the slice
    * zero-fill (n_docs=0, avg_quality=0.0 ⇒ excess 1.0 — an absent
    * source looks maximally under-served, the EG-natural reading — a
    * corpus SLICE degrades gracefully). Names OUTSIDE the vocabulary
    * still fail fast: an unknown name means the source domain moved
    * upstream (e.g. a rename), and dropping it silently while its old
    * name zero-fills to the maximal weight would shift the whole
    * mixture with no error anywhere. On the verify corpora all sources
    * are present, so the aligned path is byte-identical to the strict
    * one there. */
  private[graft] def egReweightTable(
      spark: org.apache.spark.sql.SparkSession,
      perSrcRaw: IndexedSeq[(String, Long, Double)],
      eta: Double, iters: Int, sources: IndexedSeq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    val extra = perSrcRaw.map(_._1).toSet -- sources.toSet
    require(extra.isEmpty,
      s"egReweightTable: sources outside the fixed vocabulary — domain moved upstream: ${extra.toSeq.sorted}")
    val bySrc = perSrcRaw.iterator.map(t => t._1 -> t).toMap
    val perSrc = sources.map(s => bySrc.getOrElse(s, (s, 0L, 0.0)))
    val excess = perSrc.map { case (_, _, q) => r6(1.0 - q) }
    var w = Array.fill(sources.length)(r6(1.0 / sources.length))
    for (_ <- 1 to iters) {
      val raw = Array.tabulate(sources.length)(i => r6(w(i) * math.exp(eta * excess(i))))
      val z = raw.reduceLeft(_ + _) // left-assoc over source-sorted order
      w = raw.map(r => r6(r / z))
    }
    val rows = perSrc.zipWithIndex.map { case ((s, n, q), i) =>
      org.apache.spark.sql.Row(s, n, q, excess(i), w(i),
        r6(w(i) * sources.length))
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("source", StringType, nullable = false),
        StructField("n_docs", LongType, nullable = false),
        StructField("avg_quality", DoubleType, nullable = false),
        StructField("excess", DoubleType, nullable = false),
        StructField("weight", DoubleType, nullable = false),
        StructField("boost", DoubleType, nullable = false))))
      .orderBy(col("source"))
  }

  /** DuckDB oracle for [[mixtureReweight]] — the same per-source
    * aggregation and the EG iterations UNROLLED from the same
    * constants: one 1-row weight CTE per iteration with explicit
    * left-associated normalizer parentheses. */
  /** The reweight oracle's CTE prelude — the quality/per-source/EG-
    * iteration chain — plus the per-source weight CASE (which
    * references alias `e.source`), shared by [[mixtureReweightSql]]
    * and the chained [[mixturePlanSql]] so the two oracles cannot
    * desynchronize. */
  private def reweightCtes(eta: Double, iters: Int): (String, String) = {
    def wc(s: String) = s"w_$s"
    def rc(s: String) = s"r_$s"
    val w0 = r6(1.0 / Sources.length)
    val qlCte =
      """ql AS MATERIALIZED (
        |  WITH f AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents),
        |       z AS (SELECT doc_id,
        |                    -3.0 + 0.6 * ln(1.0 + CAST(len(t) AS DOUBLE))
        |                    + 0.25 * ((CAST(length(text) AS DOUBLE) - CAST(len(t) - 1 AS DOUBLE)) / CAST(len(t) AS DOUBLE))
        |                    + 1.2 * (CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE))
        |                    + 2.0 * (CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / CAST(len(t) AS DOUBLE)) AS z
        |             FROM f)
        |  SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS quality FROM z)""".stripMargin
    // zero-fill over the FIXED vocabulary, mirroring egReweightTable: a
    // corpus slice missing a vocabulary source must read (n_docs=0,
    // avg_quality=0.0 ⇒ excess 1.0) here too — without it the weight
    // CASE's scalar subqueries go NULL and poison the EG normalizer
    val vocabRows = Sources.map(s => s"('$s')").mkString(", ")
    val perCte =
      s"""eagg AS MATERIALIZED (
         |  SELECT d.source AS source, CAST(count(*) AS BIGINT) AS n_docs,
         |         round(CAST(sum(CAST(ql.quality AS DECIMAL(8,6))) AS DOUBLE) / count(*), 6) AS avg_quality
         |  FROM ql JOIN documents d ON d.doc_id = ql.doc_id
         |  WHERE d.source IS NOT NULL GROUP BY 1),
         |e AS MATERIALIZED (
         |  SELECT v.source AS source,
         |         coalesce(eagg.n_docs, CAST(0 AS BIGINT)) AS n_docs,
         |         coalesce(eagg.avg_quality, CAST(0.0 AS DOUBLE)) AS avg_quality,
         |         round(1.0 - coalesce(eagg.avg_quality, CAST(0.0 AS DOUBLE)), 6) AS excess
         |  FROM (VALUES $vocabRows) v(source)
         |  LEFT JOIN eagg ON eagg.source = v.source)""".stripMargin
    val w0Cte = s"w0 AS MATERIALIZED (SELECT ${Sources.map(s => s"CAST($w0 AS DOUBLE) AS ${wc(s)}").mkString(", ")})"
    val iterCtes = (1 to iters).map { t =>
      val raws = Sources.map(s =>
        s"round(w${t - 1}.${wc(s)} * exp(CAST($eta AS DOUBLE) * " +
          s"(SELECT excess FROM e WHERE source = '$s')), 6) AS ${rc(s)}").mkString(",\n       ")
      val zSum = Sources.map(rc).reduceLeft((a, b) => s"($a + $b)")
      val ws = Sources.map(s => s"round(i$t.${rc(s)} / n$t.z, 6) AS ${wc(s)}").mkString(", ")
      // every stage MATERIALIZED: 1-row CTEs, but the final CASE
      // references w$iters 2·|Sources| times and DuckDB re-evaluates
      // plain CTEs per reference (the q_louvain_rounds lesson)
      s"""i$t AS MATERIALIZED (SELECT $raws FROM w${t - 1}),
         |n$t AS MATERIALIZED (SELECT $zSum AS z FROM i$t),
         |w$t AS MATERIALIZED (SELECT $ws FROM i$t, n$t)""".stripMargin
    }
    val weightCase = "CASE e.source " +
      Sources.map(s => s"WHEN '$s' THEN (SELECT ${wc(s)} FROM w$iters)").mkString(" ") +
      " END"
    (s"$qlCte,\n$perCte,\n$w0Cte,\n${iterCtes.mkString(",\n")}", weightCase)
  }

  def mixtureReweightSql(eta: Double = ReweightEta,
      iters: Int = ReweightIters, parityCol: Boolean = false): String = {
    val (ctes, weightCase) = reweightCtes(eta, iters)
    s"""WITH $ctes
       |SELECT e.source AS source, e.n_docs AS n_docs, e.avg_quality AS avg_quality,
       |       e.excess AS excess,
       |       $weightCase AS weight,
       |       round($weightCase * ${Sources.length}, 6) AS boost${
            if (parityCol) ",\n       true AS parity_ok" else ""}
       |FROM e ORDER BY source""".stripMargin
  }

  def dataMixture(
      documents: DataFrame,
      weights: Map[String, Double],
      budgetFrac: Double): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0), "weights must be positive")
    require(budgetFrac > 0 && budgetFrac <= 1, s"budgetFrac in (0,1], got $budgetFrac")
    val wsum = weights.values.sum

    val docTok = documents.select(
      col("doc_id"), col("source"),
      size(tokens(col("text"))).cast(LongType).as("n_toks"),
      docHash(col("doc_id")).as("__u"))

    val avail = docTok.groupBy("source").agg(sum("n_toks").as("avail_tokens"))
    val total = avail.agg(sum(col("avail_tokens")).cast(DoubleType).as("__total"))

    // rate = min(1, ((w·bf)/Σw · total) / avail) — the exact op order is
    // mirrored in the oracle SQL so the doubles are bit-identical.
    // a source absent from the mixture gets weight 0 → rate 0 → dropped
    // (explicitly, not via a null-propagating comparison)
    val rated = avail
      .crossJoin(broadcast(total))
      .withColumn("__w", coalesce(element_at(typedLit(weights), col("source")), lit(0.0)))
      .withColumn("rate_real",
        least(lit(1.0),
          col("__w") * lit(budgetFrac) / lit(wsum) * col("__total")
            / col("avail_tokens").cast(DoubleType)))
      .withColumn("__cut", floor(col("rate_real") * lit(HashPrime.toDouble)).cast(LongType))

    val kept = docTok
      .join(broadcast(rated.select(col("source"), col("__cut"))), "source")
      .filter(col("__u") < col("__cut"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("n_toks").as("kept_tokens"))

    rated.join(kept, Seq("source"), "left")
      .select(
        col("source"),
        col("avail_tokens"),
        round(col("rate_real"), 6).as("rate"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
      .orderBy("source")
  }

  /** Incremental dedup: classify each NEW document (`doc_id >= splitId`)
    * against the existing corpus (`doc_id < splitId`) and against the rest
    * of its own batch. Statuses, by precedence:
    * `exact_corpus` (sha match vs corpus) > `exact_batch` (sha match to an
    * earlier batch doc) > `near_corpus` (shingle-Jaccard ≥ `threshold` to
    * any corpus doc) > `near_batch` (same, to an earlier batch doc) >
    * `kept`.
    *
    * Scale: exact checks ride sha-keyed semi-join / first-writer window
    * shuffles (the hash, never the text); near checks reuse the complete
    * PPJoin prefix-filter pair join ([[Dedup.prefixFilterPairs]]) — the
    * candidate exchange carries slim prefix rows, verification is exact.
    * This is the "continuous ingestion" shape: the corpus side would be
    * the persisted shingle index, not a rescan. */
  def incrementalDedup(
      documents: DataFrame,
      splitId: Long,
      threshold: Double = 0.7): DataFrame = {
    val sha = documents.select(
      col("doc_id"), sha2(col("text"), 256).as("__sha"))
    val corpusSha = sha.filter(col("doc_id") < splitId).select("__sha").distinct()
    val batch = sha.filter(col("doc_id") >= splitId)

    val exactCorpus = batch.join(corpusSha, Seq("__sha"), "left_semi")
      .select(col("doc_id")).withColumn("__exact_corpus", lit(true))
    val w = Window.partitionBy("__sha").orderBy("doc_id")
    val exactBatch = batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col("doc_id")).withColumn("__exact_batch", lit(true))

    val pairs = Dedup.prefixFilterPairs(
      Dedup.shingleSets(documents, n = 3), "doc_id", "sh", threshold)
    val nearCorpus = pairs
      .filter(col("doc_a") < splitId && col("doc_b") >= splitId)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("__near_corpus", lit(true))
    val nearBatch = pairs
      .filter(col("doc_a") >= splitId)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("__near_batch", lit(true))

    batch.select(col("doc_id"))
      .join(exactCorpus, Seq("doc_id"), "left")
      .join(exactBatch, Seq("doc_id"), "left")
      .join(nearCorpus, Seq("doc_id"), "left")
      .join(nearBatch, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__exact_corpus"), "exact_corpus")
          .when(col("__exact_batch"), "exact_batch")
          .when(col("__near_corpus"), "near_corpus")
          .when(col("__near_batch"), "near_batch")
          .otherwise("kept").as("status"))
      .orderBy("doc_id")
  }

  /** Deterministic train/val/test assignment (90/5/5 on the portable doc
    * hash) rolled up per (source, split) — the release manifest. Pure
    * map-side decision + one small aggregation. */
  def datasetSplit(documents: DataFrame): DataFrame = {
    val h = docHash(col("doc_id")) % 100
    documents
      .select(col("source"),
        when(h < 90, "train").when(h < 95, "val").otherwise("test").as("split"),
        size(tokens(col("text"))).cast(LongType).as("n_toks"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
      .orderBy("source", "split")
  }

  /** Heaps'-law vocabulary-growth audit — the corpus-health curve behind
    * "is new data still bringing new language?": cumulative distinct
    * vocabulary vs cumulative tokens at doc-order deciles. A healthy
    * crawl keeps growing vocabulary sub-linearly (Heaps' law, V ≈ K·nᵝ);
    * a curve that flattens to ZERO growth means the tail is duplicate
    * boilerplate, and one that grows LINEARLY means garbage/noise tokens
    * (both curation alarms). All exact integers: per-doc token counts
    * ride the distributed two-level scan ([[Robust.runningTotals]] —
    * never a row-sized global window), decile cutoffs are rank picks on
    * the running doc count, each token's FIRST doc is one token-domain
    * aggregation, and per-decile vocabulary is a 10-row broadcast
    * condition-join over that domain.
    *
    * Scale shape: one doc-domain scan pass + one token-domain aggregate;
    * the only broadcasts are the 1-row total and the 10-row cutoff
    * table. */
  def vocabGrowth(documents: DataFrame, checkpoints: Int = 10): DataFrame = {
    require(checkpoints >= 1, s"vocabGrowth: checkpoints=$checkpoints")
    val perDoc = documents.select(col("doc_id").as("v"),
      size(tokens(col("text"))).cast(LongType).as("c"),
      lit(1L).as("one"))
    val cum = Robust.runningTotals(perDoc, Seq("c", "one"))
    val tot = perDoc.agg(count(lit(1)).as("__n"))
    val targets = tot.select(explode(sequence(lit(1), lit(checkpoints))).as("decile"),
        col("__n"))
      .select(col("decile"),
        expr(s"(__n * decile + ${checkpoints - 1}) div $checkpoints").as("__r"))
    val cuts = cum.join(broadcast(targets), col("cum_one") === col("__r"))
      .select(col("decile"), col("v").as("__cut"),
        col("cum_one").as("n_docs"), col("cum_c").as("n_tokens"))
    val firsts = documents
      .select(col("doc_id"), explode(distinctTokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
    val vocab = firsts.join(broadcast(cuts.select(col("decile"), col("__cut"))),
        col("first_doc") <= col("__cut"))
      .groupBy(col("decile")).agg(count(lit(1)).as("vocab"))
    cuts.join(vocab, "decile")
      .select(col("decile"), col("n_docs"), col("n_tokens"), col("vocab"),
        round(col("vocab").cast(DoubleType) / col("n_tokens").cast(DoubleType), 6)
          .as("ttr"))
      .orderBy(col("decile"))
  }

  /** Near-duplicate rate by ingestion batch — the crawler-health trend
    * behind "is new data increasingly duplicated?": docs in doc-id order
    * split into `batches` equal ranks, each batch's fraction of members
    * of a near-dup cluster. A rising tail is the same alarm a flattening
    * [[vocabGrowth]] curve raises, seen from the dedup side.
    *
    * Scale shape: ranks ride the distributed two-level running scan
    * (the [[vocabGrowth]] cutoff machinery, assigned per doc with pure
    * integer division); clusters come from the banded dedup stack; one
    * left join and a `batches`-row rollup. All exact integers with one
    * rate division per batch. */
  def dupRateByBatch(
      documents: DataFrame, threshold: Double = 0.9, batches: Int = 10): DataFrame = {
    require(batches >= 1, s"dupRateByBatch: batches=$batches")
    val perDoc = documents.select(col("doc_id").as("v"), lit(1L).as("one"))
    val cum = Robust.runningTotals(perDoc, Seq("one"))
    val tot = perDoc.agg(count(lit(1)).as("__n"))
    val ranked = cum.crossJoin(broadcast(tot))
      .select(col("v").as("doc_id"),
        expr(s"CAST((cum_one - 1) * $batches div __n + 1 AS INT)").as("batch"))
    val clustered = graft.operators.Dedup.connectedComponents(
      graft.operators.Dedup.blockedJaccardPairsUnsorted(documents, threshold),
      "doc_a", "doc_b")
      .select(col("v").as("doc_id"), lit(true).as("__dup"))
    ranked.join(clustered, Seq("doc_id"), "left")
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_docs"), count(col("__dup")).as("n_dup"))
      .select(col("batch"), col("n_docs"), col("n_dup"),
        round(col("n_dup").cast(DoubleType) / col("n_docs").cast(DoubleType), 6)
          .as("dup_rate"))
      .orderBy(col("batch"))
  }

  /** Zipf-law fit over the frequency head — the companion corpus-health
    * number to [[vocabGrowth]]: natural language follows freq ∝ rank^s
    * with s ≈ −1; a much flatter slope means template/boilerplate
    * domination, a much steeper one a degenerate vocabulary, and a low
    * r² a mixed-register corpus. OLS on (ln rank, ln freq) over the TOP
    * `topK` tokens — the head, where the law holds and where the
    * computation stays BOUNDED: the token-domain aggregate feeds a
    * TakeOrdered top-K (never a row-sized rank window), and the five
    * regression moments fold ascending-rank over the ≤ topK collected
    * head (the [[graft.operators.Robust.anovaF]] sorted-fold
    * discipline; per-term ln rides the cross-engine libm agreement the
    * MI/PSI folds already established). NULL stats when the head is
    * degenerate (k < 2 or zero y-variance). */
  def zipfFit(documents: DataFrame, topK: Int = 1000): DataFrame = {
    require(topK >= 3, s"zipfFit: topK=$topK")
    val freqs = documents.select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("tok")).limit(topK)
    val one = freqs.agg(
      array_sort(collect_list(struct((-col("f")).as("nf"), col("tok"), col("f"))))
        .as("hs"),
      count(lit(1)).as("k"))
    val terms = transform(col("hs"), (x, i) =>
      struct(log(i.cast(DoubleType) + lit(1.0)).as("lx"),
        log(x.getField("f").cast(DoubleType)).as("ly")))
    val withT = one.select(col("k"), terms.as("ts"))
    def fold(f: Column => Column): Column =
      aggregate(col("ts"), lit(0.0), (a, t) => a + f(t))
    val kd = col("k").cast(DoubleType)
    val sx = fold(_.getField("lx"))
    val sy = fold(_.getField("ly"))
    val sxy = fold(t => t.getField("lx") * t.getField("ly"))
    val sxx = fold(t => t.getField("lx") * t.getField("lx"))
    val syy = fold(t => t.getField("ly") * t.getField("ly"))
    val covN = kd * sxy - sx * sy
    val vx = kd * sxx - sx * sx
    val vy = kd * syy - sy * sy
    withT.select(
      col("k").as("n_terms"),
      round(when(col("k") >= 2, covN / vx), 6).as("slope"),
      round(when(col("k") >= 2, (sy - (covN / vx) * sx) / kd), 6).as("intercept"),
      round(when(col("k") >= 2 && vy > 0, covN * covN / (vx * vy)), 6).as("r2"))
  }

  /** Split-leakage gate — the eval-contamination check [[datasetSplit]]
    * alone cannot make: the split hashes DOC ids, so two near-duplicate
    * documents can land in train and test, silently leaking training
    * text into evaluation. This composes the near-dup clusters
    * ([[graft.operators.Dedup.connectedComponents]] over the blocked
    * Jaccard pairs) with the split assignment and counts clusters that
    * SPAN more than one split. Healthy = 0 leaky clusters; any other
    * value names exactly how much eval is compromised. (The remedy —
    * hash the CLUSTER id instead of the doc id — is one select on top of
    * the same clusters table.)
    *
    * Scale shape: the pair/cluster machinery is the banded-not-all-pairs
    * dedup stack, unchanged; the split table is per-row expression work;
    * one keyed join on doc_id, one cluster-bounded aggregation, one
    * 1-row fold. Singleton documents join no cluster and cannot leak. */
  def splitLeakage(documents: DataFrame, threshold: Double = 0.9): DataFrame = {
    val clusters = graft.operators.Dedup.connectedComponents(
      graft.operators.Dedup.blockedJaccardPairsUnsorted(documents, threshold),
      "doc_a", "doc_b")
      .select(col("v").as("doc_id"), col("cluster_id"))
    val h = docHash(col("doc_id")) % 100
    val split = documents.select(col("doc_id"),
      when(h < 90, "train").when(h < 95, "val").otherwise("test").as("split"))
    val per = clusters.join(split, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("split")).as("n_splits"))
    per.agg(
      count(lit(1)).as("n_clusters"),
      count(when(col("n_splits") > 1, 1)).as("n_leaky_clusters"),
      coalesce(sum(when(col("n_splits") > 1, col("n_docs"))), lit(0L))
        .as("n_leaky_docs"))
  }

  /** The [[splitLeakage]] REMEDY: split by the near-dup CLUSTER root
    * instead of the doc id — every member of a cluster hashes the same
    * key, so no cluster can span splits BY CONSTRUCTION (singletons keep
    * their doc-id hash). Emits the per-split shape plus a `leak_free`
    * re-audit column computed the [[splitLeakage]] way — the query
    * carries its own proof instead of asking the reader to trust the
    * construction. Same dedup-stack cost as the gate plus one left join. */
  def splitByCluster(documents: DataFrame, threshold: Double = 0.9): DataFrame = {
    val clusters = graft.operators.Dedup.connectedComponents(
      graft.operators.Dedup.blockedJaccardPairsUnsorted(documents, threshold),
      "doc_a", "doc_b")
      .select(col("v").as("doc_id"), col("cluster_id"))
    val keyed = documents.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
    val h = docHash(coalesce(col("cluster_id"), col("doc_id"))) % 100
    val assigned = keyed.select(col("doc_id"), col("cluster_id"),
      when(h < 90, "train").when(h < 95, "val").otherwise("test").as("split"))
    val leak = assigned.filter(col("cluster_id").isNotNull)
      .groupBy(col("cluster_id")).agg(countDistinct(col("split")).as("n_splits"))
      .agg(coalesce(sum(when(col("n_splits") > 1, 1L).otherwise(0L)), lit(0L))
        .as("n_leaky"))
    assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), count(col("cluster_id")).as("n_clustered_docs"))
      .crossJoin(broadcast(leak))
      .select(col("split"), col("n_docs"), col("n_clustered_docs"),
        (col("n_leaky") === 0).as("leak_free"))
      .orderBy(col("split"))
  }

  /** Fused curation gate with reason codes — the audit table a real run
    * writes next to the kept corpus (every drop must be attributable).
    * First failing gate wins, in fixed order: language → length → lexical
    * diversity → repetition. All four signals are per-row expression work
    * on one scan; no shuffle until a consumer aggregates. */
  def curationAudit(
      documents: DataFrame,
      lang: String = "en",
      minTokens: Int = 20,
      minTtr: Double = 0.4,
      maxDupBigram: Double = 0.2): DataFrame =
    curationAuditRaw(documents, lang, minTokens, minTtr, maxDupBigram)
      .orderBy("doc_id")

  /** [[curationAudit]] without the final harness sort — for consumers
    * (the eval-ops rater joins) that aggregate immediately: a global
    * orderBy costs a RANGE-PARTITIONER SAMPLING pass that re-evaluates
    * this whole heavy text projection once more (measured ~2× the rater
    * cost inside every join that consumed the sorted form). */
  def curationAuditRaw(
      documents: DataFrame,
      lang: String = "en",
      minTokens: Int = 20,
      minTtr: Double = 0.4,
      maxDupBigram: Double = 0.2): DataFrame = {
    // fan the heavy per-row text work across cores behind a barrier AQE
    // cannot re-fuse (Widen.cpuWide: the bare repartition was measured
    // collapsing to one task under checkpoint/broadcast materialization)
    val docs = Widen.cpuWide(documents)
    // one fused kernel pass for all four gate signals (see qualityKeptRaw)
    val f = graft.functions.TextFeats.feats(col("text"))
    val n = f.getField("n_toks")
    docs.select(
      col("doc_id"),
      TextAnalysis.langIdFromFeats(f).as("lang_pred"),
      n.cast(IntegerType).as("n_tokens"),
      (f.getField("n_distinct").cast(DoubleType) / n.cast(DoubleType)).as("__ttr"),
      TextAnalysis.dupBigramFromFeats(f).as("__rep"))
      .select(col("doc_id"), col("lang_pred"), col("n_tokens"),
        when(col("lang_pred") =!= lang, "lang_other")
          .when(col("n_tokens") < minTokens, "too_short")
          .when(col("__ttr") < minTtr, "low_quality")
          .when(col("__rep") > maxDupBigram, "repetitive")
          .otherwise("kept").as("reason"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per-document
    * log p_target(x) − log p_raw(x) under bag-of-n-gram (unigram+bigram)
    * generative models with add-one smoothing, fit on a target slice vs
    * the whole corpus. Selection then keeps the top-weight documents (or
    * Gumbel-resamples with these as logits — the paper's variant).
    *
    * DSIR hashes features into a fixed bucket count to bound model size;
    * here features stay RAW n-grams so the DuckDB oracle can replay them
    * (no portable cross-engine string hash exists), and V = |feature
    * vocabulary| plays the bucket-count role in the smoothing — same
    * estimator, different feature-space bound. At 100 TB the hashed
    * variant drops in by replacing `f` with `xxhash64(f) % B`: every
    * downstream shape is unchanged (the model table just becomes
    * B-bounded).
    *
    * Determinism: all counts are exact integers; each feature's log-ratio
    * is ONE fixed double chain; the per-document sum folds over a SORTED
    * feature array (float addition is order-dependent — never sum an
    * unordered shuffle's floats and expect replays to match).
    *
    * Scale shape: the model is vocabulary-sized and keyed by feature —
    * the doc-multiplicity⋈model join is a co-partitioned SHUFFLE join
    * (never broadcast — web-corpus vocabularies exceed driver memory);
    * corpus totals broadcast as one row. */
  def dsirWeights(documents: DataFrame, isTarget: Column): DataFrame = {
    val toks = tokens(col("text"))
    // Two consumers (model counts, per-doc fold) re-tokenize: checkpointing
    // the token arrays measured SLOWER here (1.18 -> 1.39 s — the write of
    // every doc's array outweighs the saved regex pass; bigramLogProb's
    // three-consumer case went the other way).
    val base = documents.select(col("doc_id"), isTarget.as("tgt"), toks.as("t"))
    val uni = base.select(col("doc_id"), col("tgt"), explode(col("t")).as("f"))
    val big = base.filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("tgt"),
        explode(graft.functions.wordShingles(col("t"), 2)).as("f"))
    val feats = uni.unionByName(big)
    val model = feats.groupBy(col("f")).agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val tot = model.agg(
      sum(col("ct")).as("nt"), sum(col("cr")).as("nr"), count(lit(1)).as("v"))
    val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
    val ratio = model.crossJoin(broadcast(tot)).select(col("f"),
      log(d(col("ct") + 1) * d(col("nr") + col("v")) /
        (d(col("cr") + 1) * d(col("nt") + col("v")))).as("lr"))
    val dm = feats.groupBy(col("doc_id"), col("f")).agg(count(lit(1)).as("m"))
    dm.join(ratio, Seq("f"))
      .groupBy(col("doc_id"))
      .agg(
        array_sort(collect_list(struct(col("f"), col("m"), col("lr")))).as("fs"),
        sum(col("m")).as("n_feats"))
      .select(col("doc_id"), col("n_feats"),
        round(aggregate(col("fs"), lit(0.0),
          (acc, c) => acc + c.getField("m").cast(DoubleType) * c.getField("lr")), 6).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** Per-source Jensen–Shannon divergence from the corpus unigram
    * distribution — the standard "how far does this source drift from the
    * mixture" curation diagnostic (symmetric, bounded by ln 2, defined
    * even where one side has zero mass, unlike raw KL). Distributions are
    * taken over the global top-`v` vocabulary by frequency (ties broken
    * by term) plus ONE explicit residual bucket holding all remaining
    * mass, so the comparison domain is fixed and bounded by construction.
    *
    * Scale shape: ONE tokenize pass aggregates straight to per-(source,
    * term) counts — the only row-sized shuffle; the corpus term counts,
    * the top-`v` TakeOrdered, per-source totals and the sorted-vocab
    * folds all derive from that (|sources|·vocab)-bounded table, never
    * re-reading the data. Never a per-token wide row, never a full-vocab
    * collect. Determinism: the fold runs in sorted-term order on both
    * engines (cf. [[graft.operators.Robust.mutualInformation]]) and the
    * residual term is added after the fold as one closed-form step, so
    * the floating sum replays bit-identically in the SQL oracle. */
  def jsDivergence(documents: DataFrame, v: Int = Curation.JsVocabSize): DataFrame =
    jsDivergenceBy(documents, Seq("source"), v)

  /** [[jsDivergence]] keyed by arbitrary grouping columns — the
    * drift-over-time upgrade ("drift of drift"): keyed by
    * (source, ingest-batch) it charts each source's distance from the
    * corpus mixture PER BATCH, turning the one-number dashboard row into
    * the trend line a curation run actually watches (a source whose
    * js_nats climbs batch over batch is drifting; the global number only
    * says it has drifted). The reference distribution stays the GLOBAL
    * corpus top-`v` vocabulary — comparing a cell against the mixture is
    * the gate; differencing consecutive batches is the consumer's
    * derivative. Same scale shape as the global operator with the keys
    * riding the one row-sized shuffle: ONE tokenize pass → per-(keys,
    * term) counts; corpus vocab, per-key totals and the sorted-vocab
    * folds all re-aggregate that (|keys-domain|·vocab)-bounded table.
    * Key cells with zero top-vocab mass fold the smooth zero-branch
    * (ps NULL → coalesce 0), keeping max-drift cells visible. */
  def jsDivergenceBy(
      documents: DataFrame, keys: Seq[String],
      v: Int = Curation.JsVocabSize): DataFrame = {
    require(keys.nonEmpty, "jsDivergenceBy: need at least one key column")
    val keyCols = keys.map(col)
    val d = (c: Column) => c.cast(DoubleType)
    // the one full pass; everything below re-aggregates this value-domain
    // table (lazy localCheckpoint: four consumers, tiny at rest)
    val st = documents
      .select(keyCols :+ explode(tokens(col("text"))).as("term"): _*)
      .groupBy(keyCols :+ col("term"): _*).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val termCounts = st.groupBy(col("term")).agg(sum(col("c")).as("cnt"))
    val top = termCounts.orderBy(col("cnt").desc, col("term")).limit(v)
    // one-row corpus side: sorted (term, cnt) vocab + totals over ALL terms
    val corpusRow = termCounts
      .join(broadcast(top.select(col("term"), lit(true).as("__top"))), Seq("term"), "left")
      .withColumn("__top", coalesce(col("__top"), lit(false)))
      .agg(
        array_sort(collect_list(when(col("__top"), struct(col("term"), col("cnt"))))).as("qs"),
        sum(col("cnt")).as("qtot"),
        sum(when(col("__top"), col("cnt")).otherwise(0L)).as("qtop"))
    val srcTop = st
      .join(broadcast(top.select(col("term"))), Seq("term"))
      .groupBy(keyCols: _*)
      .agg(collect_list(struct(col("term"), col("c"))).as("ps"),
        sum(col("c")).as("ptop"))
    val perSource = st.groupBy(keyCols: _*).agg(sum(col("c")).as("n_tokens"))
      .join(srcTop, keys, "left")
      .crossJoin(broadcast(corpusRow))
    // one JS term, spelled identically in the oracle: m = (p + q) / 2;
    // zero-mass sides contribute exactly 0 (0·ln is undefined, not 0)
    val jsTerm = (p: Column, q: Column) => {
      val m = (p + q) / lit(2.0)
      lit(0.5) * (when(p > 0, p * log(p / m)).otherwise(lit(0.0)) +
        when(q > 0, q * log(q / m)).otherwise(lit(0.0)))
    }
    val n = d(col("n_tokens"))
    val qt = d(col("qtot"))
    val topSum = aggregate(col("qs"), lit(0.0), (acc, e) => {
      val pc = coalesce(aggregate(
        filter(col("ps"), x => x.getField("term") === e.getField("term")),
        lit(0L), (a, x) => a + x.getField("c")), lit(0L))
      acc + jsTerm(d(pc) / n, d(e.getField("cnt")) / qt)
    })
    val resid = jsTerm(d(col("n_tokens") - coalesce(col("ptop"), lit(0L))) / n,
      d(col("qtot") - col("qtop")) / qt)
    perSource.select(keyCols ++ Seq(col("n_tokens"),
      round(topSum + resid, 6).as("js_nats")): _*)
      .orderBy(keyCols: _*)
  }

  /** Gini coefficient of corpus concentration across sources — the
    * one-number "is this corpus dominated by a few sources?" health
    * metric curation dashboards track next to the mixture weights
    * (0 = perfectly even shares, → 1 = one source holds everything).
    * Uses the sorted-shares closed form
    * `G = Σᵢ (2i − n − 1)·x₍ᵢ₎ / (n·Σx)` over ASCENDING per-source token
    * totals.
    *
    * Scale shape: one tokenize-count scan collapses to the |sources|
    * domain (keyed shuffle); the sorted fold runs over that bounded
    * array in ONE row, ascending (toks, source) order on both engines —
    * exact integer counts, one double chain, bit-portable. */
  def sourceGini(documents: DataFrame): DataFrame = {
    val per = documents
      .select(col("source"), size(split(col("text"), " ")).cast(LongType).as("__t"))
      .groupBy(col("source")).agg(sum(col("__t")).as("toks"))
    val one = per.agg(
      array_sort(collect_list(struct(col("toks"), col("source")))).as("xs"),
      sum(col("toks")).as("n_tokens"), count(lit(1)).as("n_sources"))
    val nD = col("n_sources").cast(DoubleType)
    val gini = aggregate(
      sequence(lit(1), col("n_sources").cast(IntegerType)), lit(0.0),
      (acc, i) => acc + (lit(2.0) * i.cast(DoubleType) - nD - lit(1.0)) *
        element_at(col("xs"), i).getField("toks").cast(DoubleType)) /
      (nD * col("n_tokens").cast(DoubleType))
    one.select(col("n_sources"), col("n_tokens"), round(gini, 6).as("gini"))
  }

  /** Quality-classifier inference: a fixed-weight logistic model over
    * cheap per-document signals (the fastText/CCNet-style quality-filter
    * shape — GPT-3, LLaMA and Dolma all gate pretraining data on a linear
    * classifier's score; here INFERENCE is the operator and the published
    * pipeline trains the weights offline). Score = σ(w·x); keep at ≥ 0.5.
    *
    * Features (all one-scan expression work, exact-count numerators):
    * ln(1+tokens), mean token length, type-token ratio, stopword hit
    * rate. Deterministic: each feature is one fixed double chain from
    * exact integers; σ is one exp. */
  def qualityScore(
      documents: DataFrame,
      w0: Double = -3.0, wLen: Double = 0.6, wAvgTok: Double = 0.25,
      wTtr: Double = 1.2, wStop: Double = 2.0): DataFrame =
    qualityScoreRaw(documents, w0, wLen, wAvgTok, wTtr, wStop)
      .orderBy(col("doc_id"))

  /** [[qualityScore]] without the final harness sort (see
    * [[curationAuditRaw]] — the sampling-pass argument). */
  def qualityScoreRaw(
      documents: DataFrame,
      w0: Double = -3.0, wLen: Double = 0.6, wAvgTok: Double = 0.25,
      wTtr: Double = 1.2, wStop: Double = 2.0): DataFrame = {
    // Widen.cpuWide, not bare repartition — see curationAuditRaw
    val docs = Widen.cpuWide(documents)
    val z = qualityLogit(col("text"), w0, wLen, wAvgTok, wTtr, wStop)
    docs.select(
      col("doc_id"),
      round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("quality"),
      (lit(1.0) / (lit(1.0) + exp(-z)) >= 0.5).as("keep"))
  }

  /** The LR quality logit as a scalar Column — shared by
    * [[qualityScoreRaw]] and the streaming reweight monitor so both
    * compute the IDENTICAL per-row expression tree. */
  private[graft] def qualityLogit(
      text: Column,
      w0: Double = -3.0, wLen: Double = 0.6, wAvgTok: Double = 0.25,
      wTtr: Double = 1.2, wStop: Double = 2.0): Column =
    qualityLogitFromFeats(
      graft.functions.TextFeats.feats(text, withBigrams = false),
      w0, wLen, wAvgTok, wTtr, wStop)

  /** The logit over an already-computed [[graft.functions.TextFeats]]
    * struct — every feature is the same double chain over the same exact
    * integers the former per-row HOF spelling produced (n_toks counts
    * split-with-empties tokens, n_chars is length(text)); the fused
    * kernel replaces ~7 interpreted HOF evaluations per row (guide §4,
    * measured ~2.6 ms/doc → the kernel pass at ~0.1 ms/doc). */
  private[graft] def qualityLogitFromFeats(
      f: Column,
      w0: Double = -3.0, wLen: Double = 0.6, wAvgTok: Double = 0.25,
      wTtr: Double = 1.2, wStop: Double = 2.0): Column = {
    val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
    val n = f.getField("n_toks")
    val fLen = log(lit(1.0) + d(n))
    // mean token length from exact ints: (chars − spaces) / tokens
    val fAvg = (d(f.getField("n_chars")) - d(n - 1)) / d(n)
    val fTtr = d(f.getField("n_distinct")) / d(n)
    val fStop = d(f.getField("s_en")) / d(n)
    lit(w0) + lit(wLen) * fLen + lit(wAvgTok) * fAvg +
      lit(wTtr) * fTtr + lit(wStop) * fStop
  }

  /** Fused (doc_id, extra…, quality, keep, kept) projection — ONE per-row
    * pass that computes [[qualityScoreRaw]]'s LR score and keep decision
    * AND [[curationAuditRaw]]'s gate verdict together. Row-wise identical to
    * `qualityScoreRaw ⋈ curationAuditRaw` on doc_id (both are
    * deterministic maps of the same row — equivalence pinned by a twin
    * test, CurationSpec), but usable on a STREAMING source where the
    * two-scan join would be a stream-stream join. `kept` is the
    * conjunction of the audit's four gates (the when-chain's `reason =
    * 'kept'` arm): language, length, lexical diversity, repetition. */
  def qualityKeptRaw(
      documents: DataFrame,
      lang: String = "en",
      minTokens: Int = 20,
      minTtr: Double = 0.4,
      maxDupBigram: Double = 0.2,
      w0: Double = -3.0, wLen: Double = 0.6, wAvgTok: Double = 0.25,
      wTtr: Double = 1.2, wStop: Double = 2.0,
      extra: Seq[String] = Nil): DataFrame = {
    // Widen.cpuWide, not bare repartition — see curationAuditRaw. The
    // conformal monitors checkpoint THIS projection, and the bare
    // repartition was measured collapsing the whole scoring pass to one
    // 1.1–2.8 s task inside the checkpoint materialization.
    val docs = Widen.cpuWide(documents)
    // ONE fused kernel pass (TextQualityFeats) feeds the logit, the
    // langId argmax, the TTR gate and the bigram-repetition gate —
    // subexpression elimination evaluates the struct once per row
    val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
    val f = graft.functions.TextFeats.feats(col("text"))
    val n = f.getField("n_toks")
    val fTtr = d(f.getField("n_distinct")) / d(n)
    val z = qualityLogitFromFeats(f, w0, wLen, wAvgTok, wTtr, wStop)
    docs.select(col("doc_id") +: extra.map(col) :+
      round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("quality") :+
      (lit(1.0) / (lit(1.0) + exp(-z)) >= 0.5).as("keep") :+
      (TextAnalysis.langIdFromFeats(f) === lang &&
        n.cast(IntegerType) >= minTokens && fTtr >= minTtr &&
        TextAnalysis.dupBigramFromFeats(f) <= maxDupBigram).as("kept"): _*)
  }
}
