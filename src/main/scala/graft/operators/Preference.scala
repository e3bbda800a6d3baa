package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.PortableHash

/** Pairwise-preference ranking — the Bradley–Terry model (Bradley &
  * Terry 1952; the MM fit follows Hunter 2004, "MM algorithms for
  * generalized Bradley-Terry models"). This is the standard machinery
  * behind RLHF preference datasets and LLM arena leaderboards: given
  * pairwise comparisons between a FIXED, small set of items, estimate a
  * latent strength p_i per item such that P(i beats j) = p_i/(p_i+p_j).
  *
  * Architecture at 100 TB: the data-sized work is the comparison
  * generation + win-matrix aggregation, both fully distributed — pairs
  * are generated only within a (source, hash-block) cell (the SemDeDup
  * posture: the BLOCK bounds the quadratic, and the block count grows
  * with the corpus), and the matrix aggregation is one shuffle with
  * map-side partials. The MM iterations then run on the collected
  * matrix, which is MODEL-sized (≤ |items|²/2 entries — |items| is a
  * fixed enum like language or model-variant, never data-sized), the
  * same posture as the k-means centroid fold in
  * [[graft.operators.Clustering]].
  *
  * Oracle exactness: every float operation of the MM fit is performed in
  * an EXPLICIT left-associated order over items sorted lexicographically,
  * and [[btOracleSql]] generates the DuckDB twin UNROLLED from the same
  * constants — identical IEEE operations in identical order give
  * bitwise-identical doubles, so the scores hash-match at 6 dp with no
  * "self-asserting floor" weakening. (Win counts are integers; the only
  * floats are the divisions and the explicitly-ordered sums.)
  */
object Preference {

  /** The item domain: document language, sorted — a fixed enum in this
    * corpus (asserted stable across SFs). The unrolled MM fit and its
    * generated SQL twin both derive from this single constant. */
  val Items: IndexedSeq[String] = IndexedSeq("de", "en", "es", "fr", "zh")

  /** Comparison-blocking modulus: documents only compare within the same
    * (source, keyHash(doc_id) % Blocks) cell, so the per-cell pair count
    * is occupancy-bounded. Scale by growing Blocks with the corpus. */
  val Blocks = 8

  /** Fixed MM iteration budget — convergence at 5 items is < 10 iters;
    * fixed count keeps the oracle replay exact (no data-dependent loop). */
  val Iters = 20

  /** Regime threshold on n_chars for the grouped form: preferences are
    * fit separately for short and long documents, testing rank stability
    * across length regimes. */
  val RegimeChars = 300L

  private def regimeCol: Column =
    when(col("n_chars") >= RegimeChars, lit("long")).otherwise(lit("short"))

  private def regimeSql: String =
    s"CASE WHEN n_chars >= $RegimeChars THEN 'long' ELSE 'short' END"

  /** Distributed win-matrix over language pairs: documents meet within a
    * (source, block[, regime]) cell, the lexicographically-smaller lang
    * is `i`, winner = longer text, ties dropped. Output: (regime?,) i, j,
    * n (matches), w (wins by i) — integers only. `blocks` other than
    * [[Blocks]] is the grown-corpus layout `Probe scale bradley_terry`
    * measures. */
  def winMatrix(docs: DataFrame, byRegime: Boolean, blocks: Int = Blocks): DataFrame = {
    val base = docs.select(
      col("doc_id"), col("lang"), col("source"), col("n_chars"),
      pmod(PortableHash.keyHash(col("doc_id")), lit(blocks.toLong)).as("blk"),
      regimeCol.as("regime"))
    val keys = Seq("source", "blk") ++ (if (byRegime) Seq("regime") else Nil)
    val a = base.select(
      (keys.map(col) :+ col("lang").as("i") :+ col("n_chars").as("ca")): _*)
    val b = base.select(
      (keys.map(c => col(c).as(s"b_$c")) :+ col("lang").as("j")
        :+ col("n_chars").as("cb")): _*)
    val joined = a.join(b,
      keys.map(c => col(c) === col(s"b_$c")).reduce(_ && _)
        && col("i") < col("j") && col("ca") =!= col("cb"))
    val groupCols = (if (byRegime) Seq(col("regime")) else Nil) ++
      Seq(col("i"), col("j"))
    joined.groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col("ca") > col("cb"), 1L).otherwise(0L)).as("w"))
  }

  /** The MM fit over one collected win matrix, in the canonical order:
    * for each item i (sorted), den_i = Σ_{j≠i, sorted} n_ij/(p_i+p_j)
    * left-associated; p'_i = W_i/den_i; then normalized by the
    * left-associated sum over sorted items. [[btOracleSql]] unrolls the
    * SAME order, so both engines produce bitwise-identical doubles. */
  private[operators] def mmFit(
      n: Map[(String, String), Long],
      w: Map[(String, String), Long]): (Map[String, Long], Map[String, Long], Map[String, Double]) = {
    val items = Items
    def nTot(i: String, j: String): Long =
      if (items.indexOf(i) < items.indexOf(j)) n.getOrElse((i, j), 0L)
      else n.getOrElse((j, i), 0L)
    val wins: Map[String, Long] = items.map { i =>
      i -> items.filter(_ != i).foldLeft(0L) { (acc, j) =>
        acc + (if (items.indexOf(i) < items.indexOf(j)) w.getOrElse((i, j), 0L)
               else n.getOrElse((j, i), 0L) - w.getOrElse((j, i), 0L))
      }
    }.toMap
    val matches: Map[String, Long] =
      items.map(i => i -> items.filter(_ != i).map(nTot(i, _)).sum).toMap
    var p: Map[String, Double] = items.map(_ -> 1.0 / items.size).toMap
    for (_ <- 1 to Iters) {
      val raw: Map[String, Double] = items.map { i =>
        var den = Option.empty[Double]
        items.filter(_ != i).foreach { j =>
          val t = nTot(i, j).toDouble / (p(i) + p(j))
          den = Some(den.fold(t)(_ + t))
        }
        val d = den.get
        i -> (if (d > 0) wins(i).toDouble / d else p(i))
      }.toMap
      var s = Option.empty[Double]
      items.foreach(i => s = Some(s.fold(raw(i))(_ + raw(i))))
      val sv = s.get
      p = items.map(i => i -> raw(i) / sv).toMap
    }
    (wins, matches, p)
  }

  /** Driver-side twin of Spark's `round(col, 6)` (HALF_UP over the
    * shortest-repr decimal, i.e. BigDecimal.valueOf — NOT the exact
    * binary expansion), so driver-rounded scores equal what the SQL
    * oracle's round(x, 6) produces. */
  private def round6(x: Double): Double =
    BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private val resultSchema = StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("wins", LongType, nullable = false),
    StructField("matches", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("rank", LongType, nullable = false)))

  /** The fitted result table from a collected win matrix — shared by the
    * batch operator and the streaming ingest readout
    * ([[graft.streaming.PreferenceIngest]]), so both produce the
    * identical arithmetic the unrolled oracle replays. */
  def scoresTable(
      spark: SparkSession,
      n: Map[(String, String), Long],
      w: Map[(String, String), Long]): DataFrame = {
    val (wins, matches, p) = mmFit(n, w)
    val ranked = Items.sortBy(i => (-p(i), i)).zipWithIndex
      .map { case (i, r) => i -> (r + 1L) }.toMap
    val rows = Items.map(i => Row(
      i, wins(i), matches(i), round6(p(i)), ranked(i)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), resultSchema)
      .orderBy(col("item"))
  }

  /** Bradley–Terry scores per item. The collect is the win matrix —
    * ≤ |Items|²/2 rows, model-sized by construction (see header). */
  def bradleyTerry(spark: SparkSession, docs: DataFrame): DataFrame = {
    val m = winMatrix(docs, byRegime = false)
      .collect() // model-sized: ≤ |Items|²/2 = 10 integer rows
    val n = m.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val w = m.map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    scoresTable(spark, n, w)
  }

  /** Grouped form: an independent fit per length regime — rank stability
    * across regimes. Collect is 2 × the model-sized matrix. */
  def bradleyTerryByRegime(spark: SparkSession, docs: DataFrame): DataFrame = {
    val m = winMatrix(docs, byRegime = true)
      .collect() // model-sized: ≤ 2 regimes × 10 integer rows
    val regimes = Seq("long", "short")
    val rows = regimes.flatMap { reg =>
      val sub = m.filter(_.getString(0) == reg)
      val n = sub.map(r => (r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
      val w = sub.map(r => (r.getString(1), r.getString(2)) -> r.getLong(4)).toMap
      val (wins, matches, p) = mmFit(n, w)
      val ranked = Items.sortBy(i => (-p(i), i)).zipWithIndex
        .map { case (i, r) => i -> (r + 1L) }.toMap
      Items.map(i => Row(
        reg, i, wins(i), matches(i), round6(p(i)), ranked(i)))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(StructField("regime", StringType, nullable = false) +: resultSchema.fields.toSeq))
      .orderBy(col("regime"), col("item"))
  }

  /** Preference-pair construction for DPO-style training (Rafailov
    * 2023): within each (source, block, language) cell, every document
    * pair with a strictly different quality signal becomes one
    * (chosen, rejected) row — the standard recipe for mining preference
    * data from a quality-ranked corpus when no human labels exist. The
    * signal here is the INTEGER unique-token count (lexical richness —
    * one of the q_doc_quality metrics), so the comparison is exact and
    * tie handling is structural, not float-sensitive. Same hash-block
    * bounding as [[winMatrix]]: the cell, not the corpus, bounds the
    * pair count, and Blocks grows with the corpus. */
  def dpoPairs(docs: DataFrame): DataFrame = {
    val base = docs.select(
      col("doc_id"), col("lang"), col("source"),
      pmod(PortableHash.keyHash(col("doc_id")), lit(Blocks.toLong)).as("blk"),
      size(array_distinct(split(col("text"), " "))).as("uq"))
    val a = base.select(col("source"), col("blk"), col("lang"),
      col("doc_id").as("a_id"), col("uq").as("a_uq"))
    val b = base.select(col("source").as("b_source"), col("blk").as("b_blk"),
      col("lang").as("b_lang"), col("doc_id").as("b_id"), col("uq").as("b_uq"))
    a.join(b,
      col("source") === col("b_source") && col("blk") === col("b_blk") &&
        col("lang") === col("b_lang") && col("a_id") < col("b_id") &&
        col("a_uq") =!= col("b_uq"))
      .select(col("lang"), col("source"),
        when(col("a_uq") > col("b_uq"), col("a_id")).otherwise(col("b_id")).as("chosen_id"),
        when(col("a_uq") > col("b_uq"), col("b_id")).otherwise(col("a_id")).as("rejected_id"),
        greatest(col("a_uq"), col("b_uq")).as("chosen_uq"),
        least(col("a_uq"), col("b_uq")).as("rejected_uq"),
        (greatest(col("a_uq"), col("b_uq")) - least(col("a_uq"), col("b_uq"))).as("gap"))
      .orderBy(col("chosen_id"), col("rejected_id"))
  }

  /** DuckDB oracle for [[dpoPairs]] — the same cell join over the same
    * integer signal. */
  def dpoPairsSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, source,
       |         ${PortableHash.keyHashSql("doc_id")} % $Blocks AS blk,
       |         CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS uq
       |  FROM documents)
       |SELECT a.lang, a.source,
       |       CASE WHEN a.uq > b.uq THEN a.doc_id ELSE b.doc_id END AS chosen_id,
       |       CASE WHEN a.uq > b.uq THEN b.doc_id ELSE a.doc_id END AS rejected_id,
       |       CAST(greatest(a.uq, b.uq) AS INT) AS chosen_uq,
       |       CAST(least(a.uq, b.uq) AS INT) AS rejected_uq,
       |       CAST(greatest(a.uq, b.uq) - least(a.uq, b.uq) AS INT) AS gap
       |FROM d a JOIN d b
       |  ON a.source = b.source AND a.blk = b.blk AND a.lang = b.lang
       | AND a.doc_id < b.doc_id AND a.uq != b.uq
       |ORDER BY chosen_id, rejected_id""".stripMargin

  /** Capped-miner defaults: at most [[DpoCapM]] rejected per chosen,
    * margin (unique-token gap) at least [[DpoMinMargin]] — shared by the
    * operator, the window twin, and the generated oracle SQL. */
  val DpoCapM = 4
  val DpoMinMargin = 2

  /** [[dpoPairs]] CAPPED — the shape a preference-data pipeline actually
    * ships: the uncapped miner emits every within-cell ordered pair
    * (O(cell²) rows, 18k at sf0.1), where production DPO mining keeps
    * only the top-`m` HIGHEST-GAP rejected per chosen (the clearest
    * contrasts teach the most) and drops pairs under a minimum margin
    * (near-ties are label noise when the signal is a heuristic). Output
    * is O(n·m).
    *
    * Scale shape: the candidate join is the same cell-bounded pair
    * generation as [[winMatrix]], and the per-chosen cap runs through
    * the bounded-heap [[graft.functions.TopKBy]] aggregate — map-side
    * partial heaps ship ≤ m entries per (chosen, task) through the ONE
    * shuffle, never materializing the full per-chosen candidate list.
    * Ordering (gap DESC, rejected_id ASC) is deterministic and integer-
    * exact, so the DuckDB window replay matches row-for-row. */
  def dpoPairsCapped(docs: DataFrame,
      m: Int = DpoCapM, minMargin: Int = DpoMinMargin): DataFrame = {
    import graft.functions.TopKBy.topKBy
    val cand = dpoCandidates(docs, minMargin)
    cand
      .groupBy(col("lang"), col("source"), col("chosen_id"), col("chosen_uq"))
      .agg(topKBy(col("gap").cast("double"), col("rejected_id"), m).as("tk"))
      .select(col("lang"), col("source"), col("chosen_id"), col("chosen_uq"),
        posexplode(col("tk")))
      .select(col("lang"), col("source"), col("chosen_id"),
        col("col.id").as("rejected_id"), col("chosen_uq"),
        (col("chosen_uq") - col("col.score").cast("int")).as("rejected_uq"),
        col("col.score").cast("int").as("gap"),
        (col("pos") + 1).cast("int").as("pair_rank"))
      .orderBy(col("chosen_id"), col("pair_rank"))
  }

  /** The `row_number` window twin of [[dpoPairsCapped]] — same candidate
    * set, same (gap DESC, rejected_id ASC) order, ranked by a window
    * instead of the bounded heap. Sorts every candidate row (the cost
    * the heap avoids); exists so the contract query can assert the heap
    * form ≡ the textbook form in-plan. */
  def dpoPairsCappedWindow(docs: DataFrame,
      m: Int = DpoCapM, minMargin: Int = DpoMinMargin): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chosen_id"))
      .orderBy(col("gap").desc, col("rejected_id").asc)
    dpoCandidates(docs, minMargin)
      .withColumn("pair_rank", row_number().over(w).cast("int"))
      .filter(col("pair_rank") <= m)
      .select(col("lang"), col("source"), col("chosen_id"), col("rejected_id"),
        col("chosen_uq"), col("rejected_uq"), col("gap"), col("pair_rank"))
      .orderBy(col("chosen_id"), col("pair_rank"))
  }

  /** Shared candidate generation for the capped miner and its window
    * twin: within-cell (source, block, language) pairs where the chosen
    * side leads by at least `minMargin` unique tokens. */
  private def dpoCandidates(docs: DataFrame, minMargin: Int): DataFrame = {
    val base = docs.select(
      col("doc_id"), col("lang"), col("source"),
      pmod(PortableHash.keyHash(col("doc_id")), lit(Blocks.toLong)).as("blk"),
      size(array_distinct(split(col("text"), " "))).as("uq"))
    val a = base.select(col("source"), col("blk"), col("lang"),
      col("doc_id").as("chosen_id"), col("uq").as("chosen_uq"))
    val b = base.select(col("source").as("b_source"), col("blk").as("b_blk"),
      col("lang").as("b_lang"), col("doc_id").as("rejected_id"),
      col("uq").as("rejected_uq"))
    a.join(b,
      col("source") === col("b_source") && col("blk") === col("b_blk") &&
        col("lang") === col("b_lang") &&
        col("chosen_uq") - col("rejected_uq") >= minMargin)
      .select(col("lang"), col("source"), col("chosen_id"), col("rejected_id"),
        col("chosen_uq"), col("rejected_uq"),
        (col("chosen_uq") - col("rejected_uq")).as("gap"))
  }

  /** DuckDB oracle for [[dpoPairsCapped]] — the same integer candidate
    * join, ranked by the same (gap DESC, rejected_id) window, capped at
    * the same shared constants. */
  def dpoPairsCappedSql(m: Int = DpoCapM, minMargin: Int = DpoMinMargin): String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, source,
       |         ${PortableHash.keyHashSql("doc_id")} % $Blocks AS blk,
       |         CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS uq
       |  FROM documents),
       |p AS (
       |  SELECT a.lang, a.source, a.doc_id AS chosen_id, b.doc_id AS rejected_id,
       |         a.uq AS chosen_uq, b.uq AS rejected_uq, a.uq - b.uq AS gap
       |  FROM d a JOIN d b
       |    ON a.source = b.source AND a.blk = b.blk AND a.lang = b.lang
       |   AND a.uq - b.uq >= $minMargin),
       |r AS (SELECT *, row_number() OVER (PARTITION BY chosen_id
       |                 ORDER BY gap DESC, rejected_id) AS pair_rank FROM p)
       |SELECT lang, source, chosen_id, rejected_id,
       |       CAST(chosen_uq AS INT) AS chosen_uq,
       |       CAST(rejected_uq AS INT) AS rejected_uq,
       |       CAST(gap AS INT) AS gap, CAST(pair_rank AS INT) AS pair_rank,
       |       true AS parity_ok, true AS bound_ok
       |FROM r WHERE pair_rank <= $m
       |ORDER BY chosen_id, pair_rank""".stripMargin

  /** Φ⁻¹(0.975) — the 95% Wilson z, shared by the Spark expression and
    * the generated SQL literal. */
  val WilsonZ = 1.959963984540054

  /** Pairwise win rates with the Wilson 95% score interval — the
    * leaderboard-confidence companion to the point fit: a pair whose
    * interval contains 1/2 has NOT demonstrated a preference at this
    * sample size, however the MM point estimates order it. Fully
    * distributed (one aggregation, no collect); every float op is a
    * fixed closed-form sequence mirrored literally in
    * [[btPairsWilsonSql]], so the table is hash-exact. */
  def pairsWilson(docs: DataFrame): DataFrame = {
    val z2 = WilsonZ * WilsonZ
    val nD = col("n").cast("double")
    val p = col("w").cast("double") / nD
    val denom = lit(1.0) + lit(z2) / nD
    val center = (p + lit(z2) / (lit(2.0) * nD)) / denom
    val half = lit(WilsonZ) *
      sqrt((p * (lit(1.0) - p)) / nD + lit(z2) / (lit(4.0) * nD * nD)) / denom
    winMatrix(docs, byRegime = false)
      .select(col("i"), col("j"), col("n").as("matches"), col("w").as("wins_i"),
        round(p, 6).as("win_rate"),
        round(center - half, 6).as("wilson_lo"),
        round(center + half, 6).as("wilson_hi"),
        (round(center - half, 6) > 0.5 || round(center + half, 6) < 0.5)
          .as("decisive"))
      .orderBy(col("i"), col("j"))
  }

  /** DuckDB oracle for [[pairsWilson]] — same matrix, same closed-form
    * op sequence with the z literals generated from [[WilsonZ]]. */
  def btPairsWilsonSql: String = {
    val z2 = (WilsonZ * WilsonZ).toString
    val z = WilsonZ.toString
    val nD = "CAST(n AS DOUBLE)"
    val p = s"(CAST(w AS DOUBLE) / $nD)"
    val denom = s"(CAST(1.0 AS DOUBLE) + CAST($z2 AS DOUBLE) / $nD)"
    val center = s"(($p + CAST($z2 AS DOUBLE) / (CAST(2.0 AS DOUBLE) * $nD)) / $denom)"
    val half = s"(CAST($z AS DOUBLE) * sqrt(($p * (CAST(1.0 AS DOUBLE) - $p)) / $nD + " +
      s"CAST($z2 AS DOUBLE) / (CAST(4.0 AS DOUBLE) * $nD * $nD)) / $denom)"
    s"""WITH d AS (
       |  SELECT doc_id, lang, source, n_chars,
       |         ${PortableHash.keyHashSql("doc_id")} % $Blocks AS blk
       |  FROM documents),
       |m0 AS (
       |  SELECT a.lang AS i, b.lang AS j, count(*) AS n,
       |         sum(CASE WHEN a.n_chars > b.n_chars THEN 1 ELSE 0 END) AS w
       |  FROM d a JOIN d b
       |    ON a.source = b.source AND a.blk = b.blk
       |   AND a.lang < b.lang AND a.n_chars != b.n_chars
       |  GROUP BY 1, 2)
       |SELECT i, j, CAST(n AS BIGINT) AS matches, CAST(w AS BIGINT) AS wins_i,
       |       round($p, 6) AS win_rate,
       |       round($center - $half, 6) AS wilson_lo,
       |       round($center + $half, 6) AS wilson_hi,
       |       (round($center - $half, 6) > 0.5 OR round($center + $half, 6) < 0.5)
       |         AS decisive
       |FROM m0 ORDER BY i, j""".stripMargin
  }

  /** Per-pair fit diagnostics — observed vs MODEL-EXPECTED wins under
    * the fitted strengths (e_ij = n_ij·p_i/(p_i+p_j)): the calibration
    * check on the Bradley–Terry assumption itself. A pair whose residual
    * is large relative to n is one the single-scalar-per-item model
    * cannot explain (non-transitive preference, context effects) — the
    * sign that a leaderboard number is hiding structure. Uses the SAME
    * full-precision fitted p as [[scoresTable]] (rounding only at
    * output), mirrored literally in [[btFitOracleSql]]. */
  def fitDiagnostics(spark: SparkSession, docs: DataFrame): DataFrame = {
    val m = winMatrix(docs, byRegime = false)
      .collect() // model-sized: ≤ |Items|²/2 integer rows
    val n = m.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val w = m.map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    val (_, _, p) = mmFit(n, w)
    val rows = for {
      ai <- Items.indices; bi <- (ai + 1) until Items.size
      i = Items(ai); j = Items(bi)
      nij = n.getOrElse((i, j), 0L) if nij > 0
    } yield {
      val wij = w.getOrElse((i, j), 0L)
      val e = nij.toDouble * (p(i) / (p(i) + p(j)))
      Row(i, j, nij, wij, round6(e), round6(wij.toDouble - e))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("i", StringType, nullable = false),
        StructField("j", StringType, nullable = false),
        StructField("matches", LongType, nullable = false),
        StructField("wins_i", LongType, nullable = false),
        StructField("expected_wins", DoubleType, nullable = false),
        StructField("residual", DoubleType, nullable = false))))
      .orderBy(col("i"), col("j"))
  }

  /** DuckDB oracle for [[fitDiagnostics]]: the unrolled MM chain, then
    * one UNION arm per pair reading the final iteration's full-precision
    * p columns — the identical double sequence. */
  def btFitOracleSql: String = {
    val arms = for {
      ai <- Items.indices; bi <- (ai + 1) until Items.size
      i = Items(ai); j = Items(bi)
    } yield {
      val e = s"(CAST(n_${i}_$j AS DOUBLE) * (p_$i / (p_$i + p_$j)))"
      s"""SELECT '$i' AS i, '$j' AS j,
         |       CAST(n_${i}_$j AS BIGINT) AS matches,
         |       CAST(w_${i}_$j AS BIGINT) AS wins_i,
         |       round($e, 6) AS expected_wins,
         |       round(CAST(w_${i}_$j AS DOUBLE) - $e, 6) AS residual
         |FROM it$Iters WHERE n_${i}_$j > 0""".stripMargin
    }
    s"""WITH d AS (
       |  SELECT doc_id, lang, source, n_chars,
       |         ${PortableHash.keyHashSql("doc_id")} % $Blocks AS blk
       |  FROM documents),
       |${pairCells("")},
       |${mmChainSql()}
       |SELECT * FROM (${arms.mkString(" UNION ALL ")}) ORDER BY i, j""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Oracle SQL generation — unrolled from the SAME constants as the fit.
  // ---------------------------------------------------------------------

  private def pairCells(filter: String): String = {
    val items = Items
    val cols = for {
      ai <- items.indices; bi <- (ai + 1) until items.size
    } yield {
      val (i, j) = (items(ai), items(bi))
      s"coalesce(sum(CASE WHEN i='$i' AND j='$j' THEN n END),0) AS n_${i}_$j, " +
        s"coalesce(sum(CASE WHEN i='$i' AND j='$j' THEN w END),0) AS w_${i}_$j"
    }
    s"""m0 AS (
       |  SELECT a.lang AS i, b.lang AS j, count(*) AS n,
       |         sum(CASE WHEN a.n_chars > b.n_chars THEN 1 ELSE 0 END) AS w
       |  FROM d a JOIN d b
       |    ON a.source = b.source AND a.blk = b.blk$filter
       |   AND a.lang < b.lang AND a.n_chars != b.n_chars
       |  GROUP BY 1, 2),
       |m AS (SELECT ${cols.mkString(", ")} FROM m0)""".stripMargin
  }

  /** The unrolled MM chain: each iteration is scalar arithmetic over ONE
    * row of p_<item> columns, with every sum left-associated in item
    * order — the exact op sequence of [[mmFit]]. */
  private def mmChainSql(): String = {
    val items = Items
    def nRef(i: String, j: String): String =
      if (items.indexOf(i) < items.indexOf(j)) s"n_${i}_$j" else s"n_${j}_$i"
    def winsExpr(i: String): String = {
      val terms = items.filter(_ != i).map { j =>
        if (items.indexOf(i) < items.indexOf(j)) s"w_${i}_$j"
        else s"(n_${j}_$i - w_${j}_$i)"
      }
      terms.reduceLeft((a, b) => s"($a + $b)")
    }
    val matCols = (for {
      ai <- items.indices; bi <- (ai + 1) until items.size
    } yield s"n_${items(ai)}_${items(bi)}, w_${items(ai)}_${items(bi)}").mkString(", ")
    val p0 = (1.0 / items.size).toString
    val it0 = s"it0 AS (SELECT m.*, " +
      items.map(i => s"CAST($p0 AS DOUBLE) AS p_$i").mkString(", ") + ", " +
      items.map(i => s"CAST(${winsExpr(i)} AS DOUBLE) AS wn_$i").mkString(", ") +
      " FROM m)"
    val steps = (1 to Iters).flatMap { t =>
      val raws = items.map { i =>
        val den = items.filter(_ != i)
          .map(j => s"CAST(${nRef(i, j)} AS DOUBLE)/(p_$i + p_$j)")
          .reduceLeft((a, b) => s"($a + $b)")
        s"CASE WHEN ($den) > 0 THEN wn_$i/($den) ELSE p_$i END AS r_$i"
      }
      val ssum = items.map(i => s"r_$i").reduceLeft((a, b) => s"($a + $b)")
      Seq(
        s"r$t AS (SELECT *, ${raws.mkString(", ")} FROM it${t - 1})",
        s"it$t AS (SELECT $matCols, ${items.map(i => s"wn_$i").mkString(", ")}, " +
          items.map(i => s"r_$i/($ssum) AS p_$i").mkString(", ") + s" FROM r$t)")
    }
    (it0 +: steps).mkString(",\n")
  }

  private def matchesExpr(i: String): String = {
    val items = Items
    items.filter(_ != i).map { j =>
      if (items.indexOf(i) < items.indexOf(j)) s"n_${i}_$j" else s"n_${j}_$i"
    }.mkString(" + ")
  }

  private def rankSql(prefix: String): String =
    // rank by (score DESC, item) over the final single row's columns:
    // count of items with strictly greater score, item as tiebreak.
    Items.map { i =>
      val greater = Items.filter(_ != i).map { j =>
        s"CASE WHEN p_$j > p_$i OR (p_$j = p_$i AND '$j' < '$i') THEN 1 ELSE 0 END"
      }.mkString(" + ")
      s"SELECT '$i' AS item, CAST(wn_$i AS BIGINT) AS wins, " +
        s"CAST(${matchesExpr(i)} AS BIGINT) AS matches, " +
        s"round(p_$i, 6) AS score, CAST(1 + $greater AS BIGINT) AS rank " +
        s"FROM it$Iters$prefix"
    }.mkString(" UNION ALL ")

  /** DuckDB oracle for [[bradleyTerry]] over the `documents` table. */
  def btOracleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, source, n_chars,
       |         ${PortableHash.keyHashSql("doc_id")} % $Blocks AS blk
       |  FROM documents),
       |${pairCells("")},
       |${mmChainSql()}
       |SELECT * FROM (${rankSql("")}) ORDER BY item""".stripMargin

  /** [[btOracleSql]] + a pinned `parity_ok` for the streaming ingest
    * (streamed matrix ≡ batch matrix is asserted in-plan; the scores are
    * the same arithmetic). The marker must occur exactly once — a drift
    * in the base SQL fails loudly instead of silently skewing the
    * oracle (the q_conformal_stream convention). */
  def btOracleSqlStream: String = {
    val marker = "SELECT * FROM ("
    require(btOracleSql.indexOf(marker) >= 0 &&
      btOracleSql.indexOf(marker) == btOracleSql.lastIndexOf(marker),
      s"parity-injection marker not unique in btOracleSql")
    btOracleSql.replace(marker, "SELECT *, true AS parity_ok FROM (")
  }

  /** DuckDB oracle for [[bradleyTerryByRegime]]: the same unrolled chain
    * instantiated per regime (regimes are a fixed 2-value enum). */
  def btOracleSqlByRegime: String = {
    val per = Seq("long", "short").map { reg =>
      s"""SELECT '$reg' AS regime, * FROM (
         |WITH d AS (
         |  SELECT doc_id, lang, source, n_chars,
         |         ${PortableHash.keyHashSql("doc_id")} % $Blocks AS blk
         |  FROM documents
         |  WHERE ($regimeSql) = '$reg'),
         |${pairCells("")},
         |${mmChainSql()}
         |${rankSql("")})""".stripMargin
    }
    s"SELECT * FROM (${per.mkString(" UNION ALL ")}) ORDER BY regime, item"
  }
}
