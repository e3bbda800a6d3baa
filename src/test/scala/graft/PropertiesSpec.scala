package graft

import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.isoDayOfWeek
import graft.operators.Dedup

/** Property-style checks over generated inputs. Samples are drawn once with
  * a fixed seed and evaluated in a single Spark pass per property (a Spark
  * job per ScalaCheck case would be prohibitively slow). */
class PropertiesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[List[A]]): List[A] =
    g.apply(Gen.Parameters.default, Seed(42L)).get

  test("isoDayOfWeek agrees with java.time over random dates 1970–2035") {
    val days = sample(Gen.listOfN(300, Gen.choose(0L, 24000L)))
    val dates = days.map(d => java.sql.Date.valueOf(LocalDate.ofEpochDay(d)))
    val rows = dates.toDF("d")
      .select($"d", isoDayOfWeek($"d").as("dow"),
        weekofyear($"d").as("woy"), dayofyear($"d").as("doy"))
      .collect()
    rows.foreach { r =>
      val ld = r.getDate(0).toLocalDate
      assert(r.getInt(1) == ld.getDayOfWeek.getValue)
      assert(r.getInt(2) == ld.get(java.time.temporal.IsoFields.WEEK_OF_WEEK_BASED_YEAR))
      assert(r.getInt(3) == ld.getDayOfYear)
    }
  }

  test("sortedJaccard: bounded, symmetric, 1 iff equal, 0 iff disjoint") {
    val gen = for {
      a <- Gen.listOfN(12, Gen.choose(0L, 30L))
      b <- Gen.listOfN(12, Gen.choose(0L, 30L))
    } yield (a.distinct.sorted, b.distinct.sorted)
    val pairs = sample(Gen.listOfN(100, gen))
    val rows = pairs.toDF("a", "b")
      .select(
        Dedup.sortedJaccard($"a", $"b").as("jab"),
        Dedup.sortedJaccard($"b", $"a").as("jba"),
        $"a", $"b")
      .collect()
    rows.zip(pairs).foreach { case (r, (a, b)) =>
      val (jab, jba) = (r.getDouble(0), r.getDouble(1))
      assert(jab >= 0.0 && jab <= 1.0)
      assert(jab == jba)
      val expect = a.toSet.intersect(b.toSet).size.toDouble / a.toSet.union(b.toSet).size
      assert(math.abs(jab - expect) < 1e-12)
      if (a == b) assert(jab == 1.0)
      if (a.toSet.intersect(b.toSet).isEmpty) assert(jab == 0.0)
    }
  }

  test("intervalJoin equals the brute-force pair set on random events") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val all = sample(Gen.listOfN(300, Gen.zip(Gen.choose(1L, 10L), Gen.choose(0L, 2000L))))
    val (c, p) = all.splitAt(150)
    val clicks = c.zipWithIndex.map { case ((u, m), i) =>
      (i.toLong, u, new java.sql.Timestamp(base + m * 60000L)) }
    val purchases = p.zipWithIndex.map { case ((u, m), i) =>
      ((1000 + i).toLong, u, new java.sql.Timestamp(base + m * 60000L)) }
    val got = graft.streaming.EventStreams
      .intervalJoin(clicks.toDF("event_id", "user_id", "ts"),
        purchases.toDF("event_id", "user_id", "ts"))
      .select($"click_id", $"purchase_id").as[(Long, Long)].collect().toSet
    val want = (for {
      (cid, cu, cts) <- clicks
      (pid, pu, pts) <- purchases
      if cu == pu && pts.getTime >= cts.getTime && pts.getTime <= cts.getTime + 600000L
    } yield (cid, pid)).toSet
    assert(got == want)
  }

  test("idempotent dedup: dropDuplicates is a fixpoint and keeps one row per key") {
    val gen = Gen.listOfN(200, Gen.zip(Gen.choose(0, 20), Gen.choose(0, 5)))
    val data = sample(gen)
    val df = data.toDF("k", "v")
    val once = Dedup.dropDuplicatesByKey(df, Seq("k"))
    assert(once.count() == data.map(_._1).distinct.size)
    assert(Dedup.dropDuplicatesByKey(once, Seq("k")).count() == once.count())
  }

  test("refineCommunities never decreases the exact Q numerator; merges form a coarsening") {
    // 8 random graphs (one Spark pass each): Q_num(refined) >= Q_num(in)
    // must hold for ANY labeling — the mutual-best matching only applies
    // strictly-positive exact gains — and the refined labeling must be a
    // COARSENING (each input community maps to exactly one output label).
    val n = 14
    val graphs = sample(Gen.listOfN(8,
      Gen.listOfN(24, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))))
    graphs.zipWithIndex.foreach { case (raw, gi) =>
      val edges = raw.collect { case (a, b) if a != b =>
        (math.min(a, b).toLong, math.max(a, b).toLong) }.distinct
        .toDF("a", "b")
      // labeling: singleton communities (the adversarial start — every
      // positive-gain structure is still unmerged)
      val labels = (0 until n).map(i => (i.toLong, i.toLong)).toDF("v", "lbl")
      val refined = graft.operators.Graph.refineCommunities(labels, edges)
        .localCheckpoint(false) // modularity + coarsening both consume it
      val qIn = graft.operators.Graph.modularity(labels, edges)
        .collect()(0).getAs[Long]("q_num")
      val qOut = graft.operators.Graph.modularity(refined, edges)
        .collect()(0).getAs[Long]("q_num")
      assert(qOut >= qIn, s"graph $gi: refinement decreased Q_num $qIn -> $qOut")
      // coarsening: each input label lands on exactly one refined label
      val m = refined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val byInput = (0 until n).groupBy(i => i.toLong) // singleton input labels
      assert(byInput.forall { case (lbl, vs) => vs.map(v => m(v.toLong)).distinct.size == 1 })
    }
  }

  test("connectedComponents matches union-find on random graphs") {
    val n = 30
    val raw = sample(Gen.listOfN(50, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1))))
    val edges = raw.filter { case (a, b) => a != b }
    // reference union-find over the same edge list
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = verts.groupBy(find).flatMap { case (_, vs) =>
      val cid = vs.min
      vs.map(v => v.toLong -> (cid.toLong, vs.size.toLong))
    }
    val got = Dedup.connectedComponents(
        edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
  }

  test("blockedJaccardPairs == per-source brute force on random corpora (generator kernel)") {
    // random docs with random sizes over a shared vocabulary, two sources;
    // the banded generator path must equal the cross-join exactly at every
    // threshold — completeness (no missed cross-band pair), exactly-once
    // emission, bit-identical scores.
    val word = Gen.choose(0, 49).map(i => s"w$i")
    val doc = Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, word).map(_.distinct.mkString(" ")))
    val docsList = sample(Gen.listOfN(60, doc))
    val fixture = docsList.zipWithIndex
      .map { case (t, i) => (i.toLong, if (i % 3 == 0) "s1" else "s2", t) }
      .toDF("doc_id", "source", "text")
    val sets = fixture.select($"doc_id", $"source",
      array_sort(transform(array_distinct(split($"text", " ")), t => xxhash64(t))).as("toks"))
    val brute = sets.as("a").join(sets.as("b"),
        $"a.source" === $"b.source" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        round(Dedup.sortedJaccard($"a.toks", $"b.toks"), 6).as("j")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    for (t <- Seq(0.25, 0.5, 0.75)) {
      val expected = brute.filter(_._3 >= t).toSet
      val got = Dedup.blockedJaccardPairsUnsorted(fixture, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.length == got.toSet.size, s"t=$t: duplicate emission")
      assert(got.toSet == expected, s"t=$t: blocked != brute force")
    }
  }

  test("cosinePairs == join twin on random embedding groups (generator kernel)") {
    val vec = Gen.listOfN(12, Gen.choose(-100, 100).map(_ / 25.0f))
    val vecs = sample(Gen.listOfN(50, vec))
    val emb = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, i % 4) }
      .toDF("vec_id", "embedding", "g")
    val base = emb.select($"g", $"vec_id", $"embedding",
      graft.functions.l2Norm($"embedding").as("nrm"))
    val twin = base.as("a").join(base.as("b"),
        $"a.g" === $"b.g" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id", $"b.vec_id",
        (graft.functions.dotProduct($"a.embedding", $"b.embedding")
          / ($"a.nrm" * $"b.nrm")).as("c")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val gen = base.groupBy($"g")
      .agg(collect_list(struct($"vec_id", $"embedding", $"nrm")).as("m"))
      .select(graft.functions.PairGenerators.cosinePairs($"m", Double.NegativeInfinity)
        .as(Seq("a", "b", "c")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gen == twin)
  }

  test("jaroWinkler is symmetric, bounded, and exact on identity/disjoint pairs") {
    import graft.functions.JaroWinklerImpl.jw
    val word = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val pairs = sample(Gen.listOfN(400, Gen.zip(word, word)))
    pairs.foreach { case (a, b) =>
      val s = jw(a, b)
      assert(s >= 0.0 && s <= 1.0, s"out of range: jw($a, $b) = $s")
      assert(s == jw(b, a), s"asymmetric: jw($a, $b) != jw($b, $a)")
      if (a == b && a.nonEmpty) assert(s == 1.0, s"identity: jw($a, $a) = $s")
    }
    // disjoint alphabets can never match
    assert(jw("aaaa", "bbbb") == 0.0)
    // monotone prefix bonus: sharing a longer prefix cannot reduce the
    // score relative to the same jaro with no shared prefix
    assert(jw("martha", "marhta") > jw("artham", "arhtam") - 1e-12)
  }

  test("Ranking.rowNumber/ntileAssign equal the window functions on random inputs") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Ranking
    // values collide heavily (range 0..20 over 500 rows) so the unique-id
    // tiebreaker carries the total order; groups are few and skewed —
    // exactly the shape the single-task window would choke on at scale
    val rows = sample(for {
      grps <- Gen.listOfN(500, Gen.frequency((8, Gen.const("web")), (3, Gen.const("code")), (1, Gen.const("books"))))
      vs <- Gen.listOfN(500, Gen.choose(0L, 20L))
    } yield grps.zip(vs)).zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
    val df = rows.toDF("id", "grp", "v")
    for (parts <- Seq(1, 3, 17)) {
      // grouped rank vs window row_number
      val got = Ranking.rowNumber(df, Seq("grp"), Seq($"v".desc, $"id"), "rk",
          totalCol = Some("n"), numPartitions = parts)
        .select($"id", $"rk", $"n").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val w = Window.partitionBy($"grp").orderBy($"v".desc, $"id")
      val wn = Window.partitionBy($"grp")
      val want = df.select($"id", row_number().over(w).cast("long").as("rk"),
          count(lit(1)).over(wn).as("n")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"grouped rank mismatch at parts=$parts")
      // global ntile vs window ntile, several bucket counts incl. k > n_rows/k edge
      for (k <- Seq(2, 3, 7, 499)) {
        val gotN = Ranking.ntileAssign(df, Nil, Seq($"v", $"id"), k, "b")
          .select($"id", $"b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val wantN = df.select($"id",
            ntile(k).over(Window.orderBy($"v", $"id")).cast("long").as("b"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(gotN == wantN, s"ntile($k) mismatch at parts=$parts")
      }
    }
    // degenerate inputs: single row and empty
    assert(Ranking.rowNumber(rows.take(1).toDF("id", "grp", "v"), Nil, Seq($"id"), "rk")
      .select($"rk").head.getLong(0) == 1L)
    assert(Ranking.rowNumber(rows.take(0).toDF("id", "grp", "v"), Nil, Seq($"id"), "rk")
      .count() == 0L)
  }

  test("Robust.robustStats/weightedMedian/quantileEdges match pure-Scala selection on random data") {
    import graft.operators.Robust
    // heavy ties (domain ≪ rows) + nulls + zero weights: the fused
    // histogram-selection (summary/slice pivot, ridden winsorized sum,
    // emitted bounds) must agree with first-principles order statistics
    val triples = sample(Gen.listOfN(500, for {
      v <- Gen.choose(0, 120)
      g <- Gen.oneOf("A", "B", "C")
      w <- Gen.choose(0L, 5L)
    } yield (v / 3.0, g, w)))
    val withNulls = triples.zipWithIndex.map { case ((v, g, w), i) =>
      (if (i % 17 == 0) null.asInstanceOf[java.lang.Double] else java.lang.Double.valueOf(v), g, w)
    } ++ Seq.tabulate(5)(i => (java.lang.Double.valueOf(i.toDouble), "Z", 0L)) ++ // all-zero weights
      Seq.tabulate(3)(_ => (null.asInstanceOf[java.lang.Double], "N", 3L)) // all-null values
    val df = withNulls.toDF("v", "g", "w")

    def rank(n: Long, p: Int): Long = (p * n + 99) / 100 // ceil(p·n/100)
    def at(sorted: Vector[Double], r: Long): Double = sorted((r - 1).toInt)

    val byG = withNulls.filter(_._1 != null).groupBy(_._2)
    val rs = Robust.robustStats(df, "g", $"v").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rs.keySet == Set("A", "B", "C", "Z")) // N vanishes (all-null)
    for ((g, rows) <- byG if g != "N") {
      val got = rs(g)
      val sorted = rows.map(_._1.doubleValue).sorted.toVector
      val n = sorted.size.toLong
      val (p05, med, p95) =
        (at(sorted, rank(n, 5)), at(sorted, rank(n, 50)), at(sorted, rank(n, 95)))
      assert(got.getAs[Long]("n") == n, s"n mismatch in $g")
      assert(got.getAs[Double]("p05") == p05 && got.getAs[Double]("median") == med
        && got.getAs[Double]("p95") == p95, s"cuts mismatch in $g")
      val mad = at(sorted.map(v => math.abs(v - med)).sorted, rank(n, 50))
      // the operator surfaces mad rounded to 6 dp
      assert(math.abs(got.getAs[Double]("mad") - mad) < 5.01e-7, s"mad mismatch in $g")
      // winsorized mean: clamp, round each to 2 dp (exact decimal), mean
      val wsum = sorted.map(v => BigDecimal(math.max(p05, math.min(v, p95)))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
      val winsWant = (wsum / n).toDouble
      assert(math.abs(got.getAs[Double]("wins_mean") - winsWant) < 2e-6, s"wins mismatch in $g")
    }

    // weighted (lower) median: smallest v whose cumulative weight reaches
    // ceil(tot/2); the all-zero-weight group Z is dropped by contract
    val wm = Robust.weightedMedian(df, "g", $"v", $"w").collect()
      .map(r => r.getString(0) -> r.getAs[Double]("w_median")).toMap
    assert(!wm.contains("Z") && !wm.contains("N"))
    for ((g, rows) <- byG if g != "N" && g != "Z") {
      val sortedRows = rows.map(t => (t._1.doubleValue, t._3)).sortBy(_._1)
      val tot = sortedRows.map(_._2).sum
      val r = rank(tot, 50)
      val want = sortedRows.scanLeft(0.0 -> 0L) { case ((_, c), (v, w)) => v -> (c + w) }
        .drop(1).find(_._2 >= r).get._1
      assert(wm(g) == want, s"weightedMedian mismatch in $g")
    }

    // decile edges over the pooled non-null values
    val pooled = withNulls.collect { case (v, _, _) if v != null => v.doubleValue }.sorted.toVector
    val edges = Robust.quantileEdges(df, $"v", 10)
    val want = (1 until 10).map(i => at(pooled, rank(pooled.size.toLong, i * 10)))
    assert(edges == want)

    // PSI between groups A (reference) and B: replay edges → bins →
    // smoothed fold driver-side in the same ascending-bin double order
    val refV = byG("A").map(_._1.doubleValue).sorted.toVector
    val curV = byG("B").map(_._1.doubleValue)
    val es = (1 until 10).map(i => at(refV, rank(refV.size.toLong, i * 10)))
    def binOf(v: Double) = es.count(v > _)
    val cr = refV.groupBy(binOf).map { case (b, xs) => b -> xs.size.toLong }
    val cc = curV.groupBy(binOf).map { case (b, xs) => b -> xs.size.toLong }
    val (nR, nC) = (refV.size.toDouble, curV.size.toDouble)
    val psiWant = (0 until 10).foldLeft(0.0) { (acc, b) =>
      val p = (cr.getOrElse(b, 0L) + 0.5) / (nR + 0.5 * 10)
      val q = (cc.getOrElse(b, 0L) + 0.5) / (nC + 0.5 * 10)
      acc + (p - q) * math.log(p / q)
    }
    val psiGot = Robust.psiDrift(df, $"v", $"g", "A", "B").head()
    assert(psiGot.getAs[Long]("n_ref") == refV.size && psiGot.getAs[Long]("n_cur") == curV.size)
    assert(math.abs(psiGot.getAs[Double]("psi") - psiWant) < 5.01e-7) // round(·, 6)
    // a missing reference profile yields an EMPTY result, never psi = 0
    assert(Robust.psiDrift(df, $"v", $"g", "NOPE", "B").count() == 0L)
  }

  test("Robust selection on sign- and octave-spanning domains (bit-grid edge regions)") {
    import graft.operators.Robust
    // Negatives, a point mass at zero, subnormal-range magnitudes and a
    // 60-octave spread: the regions where the bit grid's sign crossing and
    // relative resolution could plausibly go wrong. Values are exact
    // binary fractions (m·2^e), so the pure-Scala order statistics and
    // decimal folds replay bit-identically.
    val triples = sample(Gen.listOfN(400, for {
      e <- Gen.choose(-20, 40)
      m <- Gen.oneOf(1.0, 1.25, 1.5, 1.75)
      s <- Gen.oneOf(-1.0, 1.0)
      g <- Gen.oneOf("A", "B")
      w <- Gen.choose(1L, 4L)
    } yield (s * m * math.pow(2.0, e), g, w))) ++
      List.tabulate(50)(_ => (0.0, "A", 1L)) ++      // point mass at zero (sign boundary)
      List.tabulate(30)(_ => (-1024.0, "B", 2L)) ++  // negative point mass
      List.tabulate(3)(i => ((i - 1) * 1e-310, "S", 1L)) // subnormal range, sign-crossing
    val df = triples.toDF("v", "g", "w")
    def rank(n: Long, p: Int): Long = (p * n + 99) / 100
    def at(sorted: Vector[Double], r: Long): Double = sorted((r - 1).toInt)
    def r6(x: Double): Double = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    val rs = Robust.robustStats(df, "g", $"v").collect().map(r => r.getString(0) -> r).toMap
    for ((g, rows) <- triples.groupBy(_._2)) {
      val sorted = rows.map(_._1).sorted.toVector
      val n = sorted.size.toLong
      val got = rs(g)
      val (p05, med, p95) =
        (at(sorted, rank(n, 5)), at(sorted, rank(n, 50)), at(sorted, rank(n, 95)))
      assert(got.getAs[Long]("n") == n, s"n mismatch in $g")
      assert(got.getAs[Double]("p05") == p05 && got.getAs[Double]("median") == med
        && got.getAs[Double]("p95") == p95, s"cuts mismatch in $g")
      val mad = r6(at(sorted.map(v => math.abs(v - med)).sorted, rank(n, 50)))
      assert(got.getAs[Double]("mad") == mad, s"mad mismatch in $g")
      val wsum = sorted.map(v => BigDecimal(math.max(p05, math.min(v, p95)))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
      val winsWant = (wsum / n).toDouble
      val winsGot = got.getAs[Double]("wins_mean")
      assert(math.abs(winsGot - winsWant) <= math.max(2e-6, math.abs(winsWant) * 1e-9),
        s"wins mismatch in $g: $winsGot vs $winsWant")
    }

    val wm = Robust.weightedMedian(df, "g", $"v", $"w").collect()
      .map(r => r.getString(0) -> r.getAs[Double]("w_median")).toMap
    for ((g, rows) <- triples.groupBy(_._2)) {
      val sortedRows = rows.map(t => (t._1, t._3)).sortBy(_._1)
      val tot = sortedRows.map(_._2).sum
      val r = rank(tot, 50)
      val want = sortedRows.scanLeft(0.0 -> 0L) { case ((_, c), (v, w)) => v -> (c + w) }
        .drop(1).find(_._2 >= r).get._1
      assert(wm(g) == want, s"weightedMedian mismatch in $g")
    }
  }

  test("Robust.mannWhitneyU/ksStatistic match a pure-Scala oracle on random data") {
    import graft.operators.Robust
    // heavy ties (domain ≪ rows) AND near-continuous values both appear:
    // the distributed runningTotals scan must agree with first-principles
    // rank arithmetic computed entirely driver-side
    val raw = sample(for {
      vs <- Gen.listOfN(400, Gen.choose(0, 800))
      gs <- Gen.listOfN(400, Gen.oneOf("A", "B", "C"))
    } yield vs.zip(gs))
    val ab = raw.collect { case (v, g) if g == "A" || g == "B" => (v / 7.0, g) }
    val df = raw.map { case (v, g) => (v / 7.0, g) }.toDF("x", "g")

    // --- Mann-Whitney oracle: average ranks over the pooled sample
    val pooled = ab.map(_._1).sorted
    val avgRank: Map[Double, Double] = pooled.zipWithIndex
      .groupBy(_._1).map { case (v, idx) => v -> idx.map(_._2 + 1.0).sum / idx.size }
    val a = ab.filter(_._2 == "A").map(_._1)
    val b = ab.filter(_._2 == "B").map(_._1)
    val rA = a.map(avgRank).sum
    val u2aWant = math.round(2.0 * (rA - a.size.toLong * (a.size + 1) / 2.0))
    val mw = Robust.mannWhitneyU(df, $"x", $"g", "A", "B").head()
    assert(mw.getAs[Long]("n_a") == a.size && mw.getAs[Long]("n_b") == b.size)
    assert(mw.getAs[Long]("u2_a") == u2aWant, s"u2_a ${mw.getAs[Long]("u2_a")} != $u2aWant")
    val nn = (a.size + b.size).toDouble
    val tie3 = ab.groupBy(_._1).values.map(g => math.pow(g.size, 3) - g.size).sum
    val sigma = math.sqrt(a.size.toDouble * b.size / 12.0 * ((nn + 1) - tie3 / (nn * (nn - 1))))
    val zWant = (u2aWant / 2.0 - a.size.toDouble * b.size / 2.0) / sigma
    assert(math.abs(mw.getAs[Double]("z_stat") - zWant) < 1e-5)

    // --- KS oracle: exact max ECDF gap over the distinct values
    val dWant = ab.map(_._1).distinct.map { v =>
      math.abs(a.count(_ <= v).toDouble / a.size - b.count(_ <= v).toDouble / b.size)
    }.max
    val ks = Robust.ksStatistic(df, $"x", $"g", "A", "B").head()
    assert(ks.getAs[Long]("n_a") == a.size && ks.getAs[Long]("n_b") == b.size)
    assert(math.abs(ks.getAs[Double]("ks_stat") - dWant) < 1e-5)
  }

  test("point-mass columns: degenerate buckets resolve from the summary, never the slice") {
    import graft.operators.Robust
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

    // Post-execution plan walk (through AQE stages) summing the ACTUAL
    // row counts every broadcast-hash join emitted — the structural
    // evidence that the point-mass bucket was excluded from the slice.
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => q +: allNodes(q.plan)
      case other => other +: other.children.flatMap(allNodes)
    }
    def joinOutputRows(df: org.apache.spark.sql.DataFrame): Long =
      allNodes(df.queryExecution.executedPlan)
        .collect { case b: BroadcastHashJoinExec =>
          b.metrics.get("numOutputRows").map(_.value).getOrElse(0L) }
        .sum

    // 90% of the group is a point mass at 0.0 — the shape the bit grid's
    // relative resolution concentrates into ONE bucket (half-zeros
    // columns are normal data). p05, the median AND the entire MAD
    // annulus land in the degenerate bucket; only the p95 cut needs rows.
    val n = 10000
    val vals = Seq.tabulate(n)(i =>
      if (i % 10 != 9) 0.0 else 1.0 + ((i / 10) % 997) / 997.0)
    val df = vals.map(("A", _)).toDF("g", "v")

    def rank(total: Long, p: Int): Long = (p * total + 99) / 100
    val sorted = vals.sorted.toVector
    val (p05, med, p95) = (sorted(rank(n, 5).toInt - 1), sorted(rank(n, 50).toInt - 1),
      sorted(rank(n, 95).toInt - 1))
    val madWant = sorted.map(v => math.abs(v - med)).sorted.apply(rank(n, 50).toInt - 1)
    val winsWant = (sorted.map(v => BigDecimal(math.max(p05, math.min(v, p95)))
      .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum / n).toDouble

    val rsDf = Robust.robustStats(df, "g", $"v")
    val rs = rsDf.collect()(0)
    assert(rs.getAs[Long]("n") == n)
    assert(rs.getAs[Double]("p05") == p05 && rs.getAs[Double]("median") == med
      && rs.getAs[Double]("p95") == p95)
    assert(math.abs(rs.getAs[Double]("mad") - madWant) < 5.01e-7)
    assert(math.abs(rs.getAs[Double]("wins_mean") - winsWant) < 2e-6)
    // The 9000-row point mass must NOT flow through the slice join: only
    // the p95 bucket's ~16 rows + the summary-sized medIv join do. The
    // pre-fix plan pushed ≥ 2×9000 rows here (p05+p50 copies, plus the
    // MAD annulus).
    val sliceRows = joinOutputRows(rsDf)
    assert(sliceRows < 1000, s"point-mass rows leaked into the slice: $sliceRows")

    // weightedMedian: the median target IS the degenerate bucket, so the
    // slice join emits NOTHING — the answer comes off the summary row.
    val wmDf = Robust.weightedMedian(df.withColumn("w", lit(1L)), "g", $"v", $"w")
    assert(wmDf.collect()(0).getAs[Double]("w_median") == 0.0)
    assert(joinOutputRows(wmDf) == 0L,
      "weightedMedian scanned rows for a degenerate median bucket")

    // ALL-point-mass data (three spaced powers of two — every occupied
    // bucket single-valued): every target injects, the live broadcast
    // side is EMPTY, and the whole answer derives from the summary.
    val df3 = (Seq.fill(300)(1.0) ++ Seq.fill(500)(2.0) ++ Seq.fill(200)(8.0))
      .map(("A", _)).toDF("g", "v")
    val rs3Df = Robust.robustStats(df3, "g", $"v")
    val rs3 = rs3Df.collect()(0)
    assert(rs3.getAs[Long]("n") == 1000L)
    assert(rs3.getAs[Double]("p05") == 1.0 && rs3.getAs[Double]("median") == 2.0
      && rs3.getAs[Double]("p95") == 8.0)
    assert(rs3.getAs[Double]("mad") == 0.0) // 500 zeros dominate the deviations
    assert(rs3.getAs[Double]("wins_mean") == 2.9) // (300·1 + 500·2 + 200·8)/1000
    assert(joinOutputRows(rs3Df) == 0L,
      "all-point-mass robustStats still scanned slice rows")
  }

  test("robustStats MAD stress: adversarial shapes across seeds match first-principles selection") {
    import graft.operators.Robust
    // The MAD annulus derivation (driver-side interval-fold rank bounds)
    // is the subtlest piece of the selection path: stress it with the
    // shapes most likely to break conservative bracket math — bimodal
    // masses (annulus spans disconnected bucket runs), near-constant
    // groups (deviation ≈ 0 everywhere), geometric spreads (octave
    // boundaries), and tiny groups — across several seeds.
    def rank(n: Long, p: Int): Long = (p * n + 99) / 100
    for (seed <- Seq(1L, 7L, 23L, 99L)) {
      val rnd = new scala.util.Random(seed)
      val data =
        List.fill(300)(("bimodal", if (rnd.nextBoolean()) 10.0 + rnd.nextInt(5)
          else 1000.0 + rnd.nextInt(5))) ++
        List.fill(200)(("nearconst", if (rnd.nextInt(100) == 0) 50.0 + rnd.nextInt(3)
          else 42.0)) ++
        List.fill(150)(("geo", math.pow(2.0, rnd.nextInt(30)) * (1 + rnd.nextInt(3)))) ++
        List(("one", 7.0)) ++ List(("two", 3.0), ("two", 9.0))
      val rs = Robust.robustStats(data.toDF("g", "v"), "g", $"v")
        .collect().map(r => r.getString(0) -> r).toMap
      for ((g, rows) <- data.groupBy(_._1)) {
        val sorted = rows.map(_._2).sorted.toVector
        val n = sorted.size.toLong
        val got = rs(g)
        val med = sorted(rank(n, 50).toInt - 1)
        assert(got.getAs[Double]("median") == med, s"median mismatch in $g seed=$seed")
        val mad = sorted.map(v => math.abs(v - med)).sorted.apply(rank(n, 50).toInt - 1)
        assert(math.abs(got.getAs[Double]("mad") - mad) < 5.01e-7,
          s"mad mismatch in $g seed=$seed: got ${got.getAs[Double]("mad")} want $mad")
        assert(got.getAs[Double]("p05") == sorted(rank(n, 5).toInt - 1)
          && got.getAs[Double]("p95") == sorted(rank(n, 95).toInt - 1),
          s"cut mismatch in $g seed=$seed")
      }
    }
  }

  test("contingency-fold guard: a high-cardinality domain fails loudly before collapsing") {
    import graft.operators.Robust
    // 200 × 100 = 20 000 cells > the 8192 ceiling: every O(cells²)
    // single-row fold must refuse at execution time, not melt the driver.
    val big = spark.range(20000)
      .select((col("id") % 200).cast("int").as("x"), (col("id") / 200).cast("int").as("y"))
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("|")
    for ((name, mk) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "mutualInformation" -> (() => Robust.mutualInformation(big, "x", "y")),
        "chiSquare" -> (() => Robust.chiSquare(big, "x", "y")),
        "kendallTauB" -> (() => Robust.kendallTauB(big, col("x"), col("y"))))) {
      val e = intercept[Exception] { mk().collect() }
      assert(messages(e).contains("ceiling"), s"$name did not fail loudly: ${messages(e)}")
    }
    // and a bounded domain still computes
    val small = spark.range(1000)
      .select((col("id") % 4).cast("int").as("x"), (col("id") % 3).cast("int").as("y"))
    assert(Robust.mutualInformation(small, "x", "y").collect()(0).getAs[Long]("n_rows") == 1000L)
  }

  test("grid-summary ceiling: a too-wide (group × bucket) domain fails loudly before collecting") {
    import graft.operators.Robust
    // 50 groups × 100 distinct values = 5000 summary rows > a 100-row
    // ceiling: the driver-bracket collect must refuse with a bounded
    // transfer (limit ceiling+1), not ship |groups| × buckets rows — the
    // MaxContingencyCells discipline applied to the selection family.
    val wide = spark.range(5000)
      .select((col("id") % 50).cast("int").as("g"),
        col("id").cast("double").as("v"), // all-distinct → 5000 summary rows
        lit(1L).as("w"))
    spark.conf.set("graft.robust.maxSummaryRows", "100")
    try {
      val e1 = intercept[IllegalArgumentException] {
        Robust.robustStats(wide, "g", col("v"))
      }
      assert(e1.getMessage.contains("grid summary exceeds"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        Robust.weightedMedian(wide, "g", col("v"), col("w"))
      }
      assert(e2.getMessage.contains("grid summary exceeds"), e2.getMessage)
    } finally spark.conf.unset("graft.robust.maxSummaryRows")
    // back under the default ceiling the same input computes fine
    assert(Robust.weightedMedian(wide, "g", col("v"), col("w")).count() == 50L)
  }

  test("nondeterministic selection inputs fail loudly instead of mis-selecting") {
    import graft.operators.Robust
    // The summary and slice passes re-scan the source; a rand()/sample()
    // subtree yields different rows per scan → silently wrong quantiles.
    // The plan walk must refuse BOTH the expression and the Sample-node
    // class; a localCheckpoint of the same input pins the rows and passes.
    val base = spark.range(500)
      .select(lit("a").as("g"), (col("id") % 97).cast("double").as("v"))
    val e1 = intercept[IllegalArgumentException] {
      Robust.robustStats(base.withColumn("v", rand()), "g", col("v"))
    }
    assert(e1.getMessage.contains("non-deterministic"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Robust.weightedMedian(base.sample(0.5), "g", col("v"), lit(1L))
    }
    assert(e2.getMessage.contains("non-deterministic"), e2.getMessage)
    // checkpointing the nondeterministic input pins it → accepted
    val pinned = base.withColumn("v", rand(7)).localCheckpoint(true)
    assert(Robust.robustStats(pinned, "g", col("v")).count() == 1L)
    // and plain deterministic inputs are untouched by the walk
    assert(Robust.robustStats(base, "g", col("v")).count() == 1L)
  }

  test("Wasserstein-1 matches a first-principles reference; grouped twin per group") {
    import graft.operators.Robust
    val rows = sample(Gen.listOfN(600, for {
      g <- Gen.oneOf("de", "en", "fr")
      s <- Gen.oneOf("s0", "s1")
      v <- Gen.choose(0, 80)
    } yield (g, s, v))) ++
      List.tabulate(10)(i => ("zz", "s0", i)) // one-sided group: dropped
    val df = rows.toDF("lang", "src", "v")
    // first-principles: W1 = sum over sorted distinct values of
    // |Fa - Fb| * gap, in exact rational arithmetic
    def refW1(xs: Seq[Int], ys: Seq[Int]): Double = {
      val vs = (xs ++ ys).distinct.sorted
      val (na, nb) = (xs.size.toLong, ys.size.toLong)
      val num = vs.zip(vs.tail).map { case (v, nv) =>
        val ca = xs.count(_ <= v).toLong; val cb = ys.count(_ <= v).toLong
        (ca * nb - cb * na).abs * (nv - v)
      }.sum
      BigDecimal(num.toDouble / (na * nb).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val global = Robust.wassersteinDistance(df, $"v", $"src", "s0", "s1").collect()(0)
    val (xs, ys) = (rows.collect { case (_, "s0", v) => v },
      rows.collect { case (_, "s1", v) => v })
    assert(global.getAs[Double]("w1_dist") == refW1(xs, ys))
    assert(global.getAs[Long]("n_a") == xs.size && global.getAs[Long]("n_b") == ys.size)
    // identical distributions → zero distance
    val same = rows.map { case (g, _, v) => (g, "s0", v) } ++
      rows.map { case (g, _, v) => (g, "s1", v) }
    assert(Robust.wassersteinDistance(same.toDF("lang", "src", "v"),
      $"v", $"src", "s0", "s1").collect()(0).getAs[Double]("w1_dist") == 0.0)
    // grouped twin: per-group equality with the global operator run on
    // that group alone; the one-sided zz group drops
    val grouped = Robust.wassersteinDistanceBy(
      df, $"v", $"src", "s0", "s1", "lang").collect()
    assert(grouped.map(_.getString(0)).toSet == Set("de", "en", "fr"))
    for (r <- grouped) {
      val g = r.getString(0)
      val single = Robust.wassersteinDistance(
        df.filter($"lang" === g), $"v", $"src", "s0", "s1").collect()(0)
      for (c <- Seq("n_a", "n_b"))
        assert(r.getAs[Long](c) == single.getAs[Long](c), s"$c mismatch in $g")
      assert(r.getAs[Double]("w1_dist") == single.getAs[Double]("w1_dist"),
        s"w1 mismatch in $g")
    }
  }

  test("Cliff's delta matches brute-force pair counting; grouped twin per group") {
    import graft.operators.Robust
    val rows = sample(Gen.listOfN(400, for {
      g <- Gen.oneOf("de", "en", "fr")
      s <- Gen.oneOf("s0", "s1")
      v <- Gen.choose(0, 30) // narrow domain → heavy ties
    } yield (g, s, v))) ++
      List.tabulate(8)(i => ("zz", "s0", i)) // one-sided group: dropped
    val df = rows.toDF("lang", "src", "v")
    // brute force: delta = (#(a>b) - #(a<b)) / (na*nb), ties contribute 0
    def refDelta(xs: Seq[Int], ys: Seq[Int]): Double = {
      val num = (for (a <- xs; b <- ys) yield
        if (a > b) 1L else if (a < b) -1L else 0L).sum
      BigDecimal(num.toDouble / (xs.size.toLong * ys.size).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val (xs, ys) = (rows.collect { case (_, "s0", v) => v },
      rows.collect { case (_, "s1", v) => v })
    val global = Robust.cliffsDelta(df, $"v", $"src", "s0", "s1").collect()(0)
    assert(global.getAs[Double]("cliffs_delta") == refDelta(xs, ys))
    // total dominance: disjoint supports → delta = ±1 exactly
    val dom = (1 to 50).map(i => ("x", "s0", i + 100)) ++
      (1 to 70).map(i => ("x", "s1", i))
    assert(Robust.cliffsDelta(dom.toDF("lang", "src", "v"), $"v", $"src",
      "s0", "s1").collect()(0).getAs[Double]("cliffs_delta") == 1.0)
    // grouped twin per group; zz drops
    val grouped = Robust.cliffsDeltaBy(df, $"v", $"src", "s0", "s1", "lang").collect()
    assert(grouped.map(_.getString(0)).toSet == Set("de", "en", "fr"))
    for (r <- grouped) {
      val g = r.getString(0)
      val single = Robust.cliffsDelta(
        df.filter($"lang" === g), $"v", $"src", "s0", "s1").collect()(0)
      for (c <- Seq("n_a", "n_b"))
        assert(r.getAs[Long](c) == single.getAs[Long](c), s"$c mismatch in $g")
      assert(r.getAs[Double]("cliffs_delta") == single.getAs[Double]("cliffs_delta"),
        s"delta mismatch in $g")
    }
  }

  test("k-sample tests: ANOVA F matches first principles; KW(k=2) = MW z-squared") {
    import graft.operators.Robust
    // hand-computable fixture: 3 groups of 4 with means 1, 2, 3 and
    // identical within-group spread {-1,0,0,+1}
    val rows = for {
      (g, m) <- Seq(("a", 1.0), ("b", 2.0), ("c", 3.0))
      d <- Seq(-1.0, 0.0, 0.0, 1.0)
    } yield (g, m + d)
    val f = Robust.anovaF(rows.toDF("g", "v"), col("v"), col("g")).collect()(0)
    assert(f.getAs[Long]("k") == 3 && f.getAs[Long]("n_rows") == 12)
    assert((f.getAs[Long]("df1"), f.getAs[Long]("df2")) == ((2L, 9L)))
    // SSB = 4*((1-2)^2 + 0 + (3-2)^2) = 8, SSW = 3 groups * 2 = 6
    // F = (8/2) / (6/9) = 6
    assert(f.getAs[Double]("f_stat") == 6.0)
    // identical groups: F = 0
    val flat = (for { g <- Seq("a", "b"); v <- 1 to 5 } yield (g, v.toDouble))
    assert(Robust.anovaF(flat.toDF("g", "v"), col("v"), col("g"))
      .collect()(0).getAs[Double]("f_stat") == 0.0)
    // all-constant: SSW = 0 -> NULL (fail-soft)
    val const = Seq(("a", 5.0), ("a", 5.0), ("b", 5.0), ("b", 5.0)).toDF("g", "v")
    assert(Robust.anovaF(const, col("v"), col("g")).collect()(0).isNullAt(2))

    // KW with 2 groups equals the tie-corrected MW z SQUARED (both are
    // the same normal/chi2(1) approximation) - a cross-operator identity
    val two = sample(Gen.listOfN(300, for {
      s <- Gen.oneOf("s0", "s1"); v <- Gen.choose(0, 25)
    } yield (s, v)))
    val df2 = two.toDF("src", "v")
    val h = Robust.kruskalWallis(df2, $"v", $"src").collect()(0)
    val z = Robust.mannWhitneyU(df2, $"v", $"src", "s0", "s1")
      .collect()(0).getAs[Double]("z_stat")
    assert(h.getAs[Long]("k") == 2 && h.getAs[Long]("df") == 1)
    assert(math.abs(h.getAs[Double]("h_stat") - z * z) < 1e-3,
      s"H = ${h.getAs[Double]("h_stat")}, z^2 = ${z * z}")
    // all-tied values: the correction denominator hits 0 -> NULL
    val tied = Seq(("a", 7), ("a", 7), ("b", 7), ("b", 7)).toDF("g", "v")
    assert(Robust.kruskalWallis(tied, $"v", $"g").collect()(0).isNullAt(2))
  }

  test("Brown-Forsythe matches first principles and is location-shift invariant") {
    import graft.operators.Robust
    val rows = sample(Gen.listOfN(400, for {
      g <- Gen.oneOf("a", "b", "c")
      cents <- Gen.choose(-500000, 500000)
    } yield (g, BigDecimal(cents, 2))))
    val df = rows.toDF("g", "v").select($"g", $"v".cast("decimal(18,2)").as("v"))
    val got = Robust.brownForsythe(df, col("v"), col("g")).collect()(0)
    // first principles: lower-median (rank (n+1) div 2) per group,
    // z = |x - med|, then the anovaF chain on z folded in sorted group order
    val byG = rows.groupBy(_._1).toSeq.sortBy(_._1)
    val meds = byG.map { case (g, vs) =>
      val s = vs.map(_._2).sorted; g -> s((s.size + 1) / 2 - 1)
    }.toMap
    // the operator carries z as exact integer CENTS (F is scale-invariant)
    val zs = rows.map { case (g, v) => (g, ((v - meds(g)).abs * 100).toBigInt) }
    val k = byG.size; val n = rows.size
    val stats = zs.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, gz) =>
      val z = gz.map(_._2)
      (z.size, BigDecimal(z.sum), BigDecimal(z.map(x => x * x).sum))
    }
    val t = stats.map(_._2).sum; val tss = stats.map(_._3).sum
    val sb = stats.foldLeft(0.0)((acc, s) =>
      acc + s._2.toDouble * s._2.toDouble / s._1.toDouble)
    val ssb = sb - t.toDouble * t.toDouble / n.toDouble
    val ssw = tss.toDouble - sb
    val w = BigDecimal((ssb / (k - 1.0)) / (ssw / (n - k.toDouble)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getAs[Long]("k") == k && got.getAs[Long]("n_rows") == n)
    assert(got.getAs[Double]("w_stat") == w,
      s"W = ${got.getAs[Double]("w_stat")}, first principles = $w")
    // location-shift invariance: shifting one group by a constant moves its
    // median with it, so z and therefore W are unchanged (the reason median
    // centering is the robust choice)
    val shifted = rows.map { case (g, v) => (g, if (g == "b") v + 1000 else v) }
    val df2 = shifted.toDF("g", "v").select($"g", $"v".cast("decimal(18,2)").as("v"))
    assert(Robust.brownForsythe(df2, col("v"), col("g"))
      .collect()(0).getAs[Double]("w_stat") == got.getAs[Double]("w_stat"))
  }

  test("Cochran-Armitage matches first principles; flat rates give z = 0") {
    import graft.operators.Robust
    val rows = sample(Gen.listOfN(500, for {
      w <- Gen.choose(1, 5)
      y <- Gen.frequency((w, Gen.const(true)), (6 - w, Gen.const(false)))
    } yield (w, y)))
    val df = rows.toDF("w", "y")
    val got = Robust.cochranArmitage(df, col("w"), col("y")).collect()(0)
    // first principles via the same N-scaled integer algebra
    val byW = rows.groupBy(_._1).toSeq
    val n = rows.size.toLong; val s = rows.count(_._2).toLong
    val ws = byW.map { case (w, g) => (w.toLong, g.size.toLong, g.count(_._2).toLong) }
    val a = n * ws.map(t => t._1 * t._3).sum - s * ws.map(t => t._1 * t._2).sum
    val swn = ws.map(t => t._1 * t._2).sum
    val b = n * ws.map(t => t._1 * t._1 * t._2).sum - swn * swn
    val z = BigDecimal(a.toDouble /
        math.sqrt((s * (n - s) * b).toDouble / n.toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getAs[Long]("k") == byW.size && got.getAs[Long]("n_rows") == n)
    assert(got.getAs[Long]("n_success") == s)
    assert(got.getAs[Double]("z_stat") == z,
      s"z = ${got.getAs[Double]("z_stat")}, first principles = $z")
    // identical rates across scores: T = 0 exactly
    val flat = for { w <- Seq(1, 2, 3); i <- 0 until 4 } yield (w, i < 2)
    assert(Robust.cochranArmitage(flat.toDF("w", "y"), col("w"), col("y"))
      .collect()(0).getAs[Double]("z_stat") == 0.0)
    // degenerate: all-success (S = N) and single-score (B = 0) -> NULL
    val allS = Seq((1, true), (2, true), (3, true)).toDF("w", "y")
    assert(Robust.cochranArmitage(allS, col("w"), col("y")).collect()(0).isNullAt(3))
    val oneW = Seq((2, true), (2, false), (2, true)).toDF("w", "y")
    assert(Robust.cochranArmitage(oneW, col("w"), col("y")).collect()(0).isNullAt(3))
    // grouped twin: each segment equals the global gate on its slice; a
    // degenerate (all-success) segment keeps counts with NULL z
    val seg = rows.map { case (w, y) => ("s1", w, y) } ++
      rows.map { case (w, y) => ("s2", w, !y) } ++
      Seq(("s3", 1, true), ("s3", 2, true))
    val gdf = seg.toDF("g", "w", "y")
    val grouped = Robust.cochranArmitageBy(gdf, col("w"), col("y"), "g").collect()
    assert(grouped.map(_.getString(0)).toSeq == Seq("s1", "s2", "s3"))
    for (r <- grouped.take(2)) {
      val single = Robust.cochranArmitage(
        gdf.filter($"g" === r.getString(0)), col("w"), col("y")).collect()(0)
      assert(r.getAs[Long]("n_rows") == single.getAs[Long]("n_rows"))
      assert(r.getAs[Double]("z_stat") == single.getAs[Double]("z_stat"),
        s"z mismatch in ${r.getString(0)}")
    }
    assert(grouped(2).isNullAt(4))
  }

  test("cohenKappa: hand-computed 2x2, perfect/chance/degenerate cases") {
    import graft.operators.Robust
    // classic 2x2: agree-yes 20, agree-no 15, disagreements 5 and 10
    // N=50, D=35, rows=(25,25), cols=(30,20): kappa = (50*35-1250)/(2500-1250) = 0.4
    val rows = Seq.fill(20)(("y", "y")) ++ Seq.fill(5)(("y", "n")) ++
      Seq.fill(10)(("n", "y")) ++ Seq.fill(15)(("n", "n"))
    val got = Robust.cohenKappa(rows.toDF("a", "b"), col("a"), col("b")).collect()(0)
    assert(got.getAs[Long]("n_rows") == 50 && got.getAs[Long]("n_agree") == 35)
    assert(got.getAs[Double]("kappa") == 0.4)
    // perfect agreement: kappa = 1
    val perfect = Seq(("x", "x"), ("y", "y"), ("z", "z"), ("x", "x")).toDF("a", "b")
    assert(Robust.cohenKappa(perfect, col("a"), col("b"))
      .collect()(0).getAs[Double]("kappa") == 1.0)
    // exact chance-level agreement (uniform 2x2): kappa = 0
    val chance = Seq(("t", "t"), ("t", "f"), ("f", "t"), ("f", "f")).toDF("a", "b")
    assert(Robust.cohenKappa(chance, col("a"), col("b"))
      .collect()(0).getAs[Double]("kappa") == 0.0)
    // both raters constant: p_e = 1 -> NULL (fail-soft)
    val const = Seq(("a", "a"), ("a", "a")).toDF("a", "b")
    assert(Robust.cohenKappa(const, col("a"), col("b")).collect()(0).isNullAt(2))
    // asymmetric label spaces (a category seen by only one rater) still
    // fold correct margins: rater B never says 'z'
    val asym = Seq(("z", "y"), ("y", "y"), ("y", "y")).toDF("a", "b")
    // N=3, D=2, rows: z=1,y=2; cols: y=3,z=0 -> pe_num = 1*0 + 2*3 = 6
    // kappa = (6-6)/(9-6) = 0
    assert(Robust.cohenKappa(asym, col("a"), col("b"))
      .collect()(0).getAs[Double]("kappa") == 0.0)
    // grouped twin: per-segment equals the global gate on each slice;
    // a both-raters-constant segment keeps counts with NULL kappa
    val seg = rows.map { case (a, b) => ("s1", a, b) } ++
      rows.map { case (a, b) => ("s2", b, a) } ++
      Seq(("s3", "k", "k"), ("s3", "k", "k"))
    val gdf = seg.toDF("g", "a", "b")
    val grouped = Robust.cohenKappaBy(gdf, col("a"), col("b"), "g").collect()
    assert(grouped.map(_.getString(0)).toSeq == Seq("s1", "s2", "s3"))
    for (r <- grouped.take(2)) {
      val single = Robust.cohenKappa(
        gdf.filter($"g" === r.getString(0)), col("a"), col("b")).collect()(0)
      assert(r.getAs[Long]("n_rows") == single.getAs[Long]("n_rows"))
      assert(r.getAs[Double]("kappa") == single.getAs[Double]("kappa"),
        s"kappa mismatch in ${r.getString(0)}")
    }
    assert(grouped(2).getAs[Long]("n_rows") == 2 && grouped(2).isNullAt(3))
  }

  test("calibrationBins and brierScore: hand-computed fixture, bin clamp") {
    import graft.operators.Robust
    val rows = Seq((0.95, true), (0.95, true), (0.05, false), (0.05, false),
      (1.0, true), (0.62, false)).toDF("q", "y")
    val bins = Robust.calibrationBins(rows, col("q"), col("y"))
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(bins.keySet == Set(0, 6, 9)) // 1.0 clamps into bin 9
    assert(bins(0).getAs[Long]("n") == 2 && bins(0).getAs[Double]("avg_pred") == 0.05)
    assert(bins(0).getAs[Double]("frac_pos") == 0.0)
    assert(bins(9).getAs[Long]("n") == 3)
    // (0.95 + 0.95 + 1.0) / 3 = 0.966667 at 6 dp
    assert(bins(9).getAs[Double]("avg_pred") == 0.966667)
    assert(bins(9).getAs[Double]("frac_pos") == 1.0)
    // brier = (2*.0025 + 2*.0025 + 0 + .3844) / 6 = 0.065733 at 6 dp
    val b = Robust.brierScore(rows, col("q"), col("y")).collect()(0)
    assert(b.getAs[Long]("n_rows") == 6)
    assert(b.getAs[Double]("brier") == 0.065733)
  }

  test("aucScore: perfect/reversed/tied rankings match first principles") {
    import graft.operators.Robust
    val perfect = Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false)).toDF("s", "y")
    val p = Robust.aucScore(perfect, col("s"), col("y")).collect()(0)
    assert(p.getAs[Long]("n_pos") == 2 && p.getAs[Long]("n_neg") == 2)
    assert(p.getAs[Double]("auc") == 1.0)
    val reversed = Seq((0.1, true), (0.2, true), (0.8, false), (0.9, false)).toDF("s", "y")
    assert(Robust.aucScore(reversed, col("s"), col("y"))
      .collect()(0).getAs[Double]("auc") == 0.0)
    // ties: first principles (#(s+ > s-) + 0.5 #(=)) / (n+ n-)
    val rows = sample(Gen.listOfN(300, for {
      s <- Gen.choose(0, 9); y <- Gen.oneOf(true, false)
    } yield (s, y)))
    val (pos, neg) = (rows.filter(_._2).map(_._1), rows.filterNot(_._2).map(_._1))
    val wins = (for (a <- pos; b <- neg)
      yield if (a > b) 1.0 else if (a == b) 0.5 else 0.0).sum
    val ref = BigDecimal(wins / (pos.size.toLong * neg.size).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Robust.aucScore(rows.toDF("s", "y"), col("s"), col("y")).collect()(0)
    assert(got.getAs[Double]("auc") == ref,
      s"auc ${got.getAs[Double]("auc")} vs first principles $ref")
    // grouped twin: per-segment AUC equals the global gate on each slice;
    // a one-class segment drops
    val seg = rows.map { case (s, y) => ("s1", s, y) } ++
      rows.map { case (s, y) => ("s2", s, !y) } ++
      Seq(("s3", 5, true), ("s3", 7, true))
    val gdf = seg.toDF("g", "s", "y")
    val grouped = Robust.aucScoreBy(gdf, col("s"), col("y"), "g").collect()
    assert(grouped.map(_.getString(0)).toSeq == Seq("s1", "s2"))
    for (r <- grouped) {
      val single = Robust.aucScore(
        gdf.filter($"g" === r.getString(0)), col("s"), col("y")).collect()(0)
      assert(r.getAs[Double]("auc") == single.getAs[Double]("auc"),
        s"auc mismatch in ${r.getString(0)}")
    }
  }

  test("confusionStats: hand-computed cells and guarded rates") {
    import graft.operators.Robust
    val rows = Seq.fill(6)((true, true)) ++ Seq.fill(2)((true, false)) ++
      Seq.fill(3)((false, true)) ++ Seq.fill(9)((false, false))
    val got = Robust.confusionStats(rows.toDF("p", "a"), col("p"), col("a")).collect()(0)
    assert((got.getAs[Long]("tp"), got.getAs[Long]("fp"),
      got.getAs[Long]("fn"), got.getAs[Long]("tn")) == ((6L, 2L, 3L, 9L)))
    assert(got.getAs[Double]("precision") == 0.75)
    // recall = 6/9, f1 = 2*0.75*(2/3)/(0.75+2/3) = 12/17
    assert(got.getAs[Double]("recall") == BigDecimal(6.0 / 9.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got.getAs[Double]("f1") == BigDecimal(12.0 / 17.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // never-predicts-positive: precision NULL (undefined, not 0)
    val nop = Seq((false, true), (false, false)).toDF("p", "a")
    val g2 = Robust.confusionStats(nop, col("p"), col("a")).collect()(0)
    assert(g2.isNullAt(4) && g2.getAs[Double]("recall") == 0.0 && g2.isNullAt(6))
  }

  test("liftCurve: positives concentrated on the top deciles") {
    import graft.operators.Robust
    // scores 0.01..1.00, positives above 0.80: each decile bin holds 10
    // rows, the top two bins hold all 20 positives
    val rows = (1 to 100).map(i => (i / 100.0, i > 80)).toDF("s", "y")
    val got = Robust.liftCurve(rows, col("s"), col("y")).collect()
    assert(got.length == 10)
    assert(got.map(_.getInt(0)).toSeq == (9 to 0 by -1))
    assert(got.forall(_.getAs[Long]("n") == 10L))
    val byBin = got.map(r => r.getInt(0) -> r).toMap
    assert(byBin(9).getAs[Double]("lift") == 5.0) // 100% pos vs 20% base
    assert(byBin(8).getAs[Double]("lift") == 5.0)
    assert(byBin(7).getAs[Double]("lift") == BigDecimal(20.0 / 30.0 / 0.2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(byBin(0).getAs[Double]("lift") == 1.0) // whole population
    assert(byBin(0).getAs[Long]("cum_pos") == 20L)
    // no positives at all: base rate zero -> NULL lift, counts remain
    val none = (1 to 50).map(i => (i / 50.0, false)).toDF("s", "y")
    assert(Robust.liftCurve(none, col("s"), col("y")).collect().forall(_.isNullAt(5)))
  }

  test("expectedCalibrationError matches the bin fold") {
    import graft.operators.Robust
    val rows = Seq((0.95, true), (0.95, true), (0.05, false), (0.05, false),
      (1.0, true), (0.62, false)).toDF("q", "y")
    val bins = Robust.calibrationBins(rows, col("q"), col("y"))
      .collect().sortBy(_.getInt(0))
    val n = bins.map(_.getAs[Long]("n")).sum.toDouble
    val ref = BigDecimal(bins.foldLeft(0.0)((acc, b) =>
        acc + b.getAs[Long]("n") / n *
          math.abs(b.getAs[Double]("avg_pred") - b.getAs[Double]("frac_pos"))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Robust.expectedCalibrationError(rows, col("q"), col("y")).collect()(0)
    assert(got.getAs[Long]("n_rows") == 6)
    assert(got.getAs[Double]("ece") == ref, s"ece ${got.getAs[Double]("ece")} vs $ref")
    // grouped twin: each segment's ECE equals the global gate on its slice
    val seg = Seq(("a", 0.95, true), ("a", 0.05, false), ("a", 0.62, false),
      ("b", 0.95, true), ("b", 0.95, false), ("b", 0.05, false))
      .toDF("g", "q", "y")
    val grouped = Robust.expectedCalibrationErrorBy(seg, col("q"), col("y"), "g")
      .collect()
    assert(grouped.map(_.getString(0)).toSeq == Seq("a", "b"))
    for (r <- grouped) {
      val single = Robust.expectedCalibrationError(
        seg.filter($"g" === r.getString(0)), col("q"), col("y")).collect()(0)
      assert(r.getAs[Double]("ece") == single.getAs[Double]("ece"),
        s"ece mismatch in ${r.getString(0)}")
    }
  }

  test("FDR meta-gate: p-values match the normal tail, BH matches first principles") {
    import graft.operators.Robust
    // A&S 7.1.26 accuracy: |erfc error| <= 1.5e-7 against known normal
    // two-sided tails
    val zs = Seq(0.0 -> 1.0, 1.959963985 -> 0.05, 2.5758293 -> 0.01,
      -1.6448536 -> 0.1, 3.2905267 -> 0.001)
    val pdf = zs.map(_._1).toDF("z")
      .select(col("z"), Robust.pValueTwoSided(col("z")).as("p")).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    for ((z, want) <- zs)
      assert(math.abs(pdf(z) - want) < 3e-7, s"p($z) = ${pdf(z)}, want ~$want")
    // BH against first principles: p_adj(i) = min_{j>=i} p_(j)*m/j, clamp 1
    val stats = Seq[(String, java.lang.Double)](
      ("s1", 3.2905267), ("s2", 1.959963985), ("s3", 0.5),
      ("s4", -2.5758293), ("s5", 0.1), ("s6", null))
      .toDF("seg", "z")
    val got = Robust.fdrAdjust(stats, "seg", "z").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("s1", "s2", "s3", "s4", "s5")) // null z drops
    val ps = got.map(r => r.getString(0) -> r.getAs[Double]("p_value")).toMap
    // reference BH over the UNROUNDED p's recomputed here from the same chain
    def p(z: Double): Double = {
      val x = math.abs(z) / math.sqrt(2.0)
      val t = 1.0 / (1.0 + 0.3275911 * x)
      val poly = t * (0.254829592 + t * (-0.284496736 +
        t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))))
      poly * math.exp(-x * x)
    }
    val raw = Seq("s1" -> p(3.2905267), "s2" -> p(1.959963985), "s3" -> p(0.5),
      "s4" -> p(-2.5758293), "s5" -> p(0.1))
    val m = raw.size
    val asc = raw.sortBy(_._2)
    val adj = asc.zipWithIndex.map { case ((k, pv), i) =>
      k -> math.min(1.0,
        asc.drop(i).zipWithIndex.map { case ((_, pj), d) => pj * m / (i + d + 1) }.min)
    }.toMap
    for (r <- got) {
      val k = r.getString(0)
      assert(math.abs(r.getAs[Double]("p_adj") -
        BigDecimal(adj(k)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) <= 1e-6,
        s"p_adj($k) = ${r.getAs[Double]("p_adj")}, want ${adj(k)}")
      assert(math.abs(ps(k) -
        BigDecimal(raw.toMap.apply(k)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) <= 1e-6)
      assert(r.getAs[Boolean]("significant") == (adj(k) <= 0.05))
    }
    // p_adj >= p everywhere, and the step-up never exceeds 1
    for (r <- got)
      assert(r.getAs[Double]("p_adj") >= r.getAs[Double]("p_value") - 1e-9 &&
        r.getAs[Double]("p_adj") <= 1.0)
  }

  test("grouped KS, PSI and Spearman match their global twins per group") {
    import graft.operators.Robust
    val rows = sample(Gen.listOfN(600, for {
      g <- Gen.oneOf("de", "en", "fr")
      s <- Gen.oneOf("s0", "s1")
      v <- Gen.choose(0, 50)
    } yield (g, s, v))) ++
      List.tabulate(10)(i => ("zz", "s0", i)) // one-sided group: dropped
    val df = rows.toDF("lang", "src", "v")
    val grouped = Robust.ksStatisticBy(df, $"v", $"src", "s0", "s1", "lang").collect()
    assert(grouped.map(_.getString(0)).toSet == Set("de", "en", "fr")) // zz dropped
    for (r <- grouped) {
      val g = r.getString(0)
      val single = Robust.ksStatistic(
        df.filter($"lang" === g), $"v", $"src", "s0", "s1").collect()(0)
      assert(r.getAs[Long]("n_a") == single.getAs[Long]("n_a"), s"n_a mismatch in $g")
      assert(r.getAs[Long]("n_b") == single.getAs[Long]("n_b"), s"n_b mismatch in $g")
      assert(r.getAs[Double]("ks_stat") == single.getAs[Double]("ks_stat"),
        s"ks mismatch in $g")
    }

    // grouped Mann–Whitney: same algebra, same drop-one-sided contract —
    // u2_a is an exact integer, so the twin compare is equality, not ≈
    val gmw = Robust.mannWhitneyUBy(df, $"v", $"src", "s0", "s1", "lang").collect()
    assert(gmw.map(_.getString(0)).toSet == Set("de", "en", "fr")) // zz dropped
    for (r <- gmw) {
      val g = r.getString(0)
      val single = Robust.mannWhitneyU(
        df.filter($"lang" === g), $"v", $"src", "s0", "s1").collect()(0)
      assert(r.getAs[Long]("n_a") == single.getAs[Long]("n_a"), s"n_a mismatch in $g")
      assert(r.getAs[Long]("n_b") == single.getAs[Long]("n_b"), s"n_b mismatch in $g")
      assert(r.getAs[Long]("u2_a") == single.getAs[Long]("u2_a"), s"u2_a mismatch in $g")
      assert(r.getAs[Double]("z_stat") == single.getAs[Double]("z_stat"),
        s"z mismatch in $g")
    }

    // grouped Welch t: same decimal moments per segment; the one-sided
    // zz group (no s1 arm) drops — a one-row/absent arm is not evidence
    val arm = when($"src" === "s0", 0L).otherwise(1L)
    val gwt = Robust.welchTBy(df, arm, $"v", "lang").collect()
    assert(gwt.map(_.getString(0)).toSet == Set("de", "en", "fr"))
    for (r <- gwt) {
      val g = r.getString(0)
      val single = Robust.welchT(df.filter($"lang" === g), arm, $"v").collect()(0)
      for (c <- Seq("n_a", "n_b"))
        assert(r.getAs[Long](c) == single.getAs[Long](c), s"$c mismatch in $g")
      for (c <- Seq("mean_a", "mean_b", "t_stat", "welch_df"))
        assert(r.getAs[Double](c) == single.getAs[Double](c), s"$c mismatch in $g")
    }

    // grouped PSI: per-segment result equals the global operator run on
    // that segment alone (each segment bins on its OWN reference edges);
    // the reference-less segment drops — a gate must not invent a profile
    val gpsi = Robust.psiDriftBy(df, $"v", $"src", "s0", "s1", "lang").collect()
    assert(gpsi.map(_.getString(0)).toSet == Set("de", "en", "fr", "zz"))
    for (r <- gpsi) {
      val g = r.getString(0)
      val single = Robust.psiDrift(df.filter($"lang" === g), $"v", $"src", "s0", "s1").head()
      assert(r.getAs[Long]("n_ref") == single.getAs[Long]("n_ref"), s"n_ref mismatch in $g")
      assert(r.getAs[Long]("n_cur") == single.getAs[Long]("n_cur"), s"n_cur mismatch in $g")
      assert(r.getAs[Double]("psi") == single.getAs[Double]("psi"), s"psi mismatch in $g")
    }
    assert(Robust.psiDriftBy(
      df.filter($"lang" =!= "zz" || $"src" =!= "s0"), // zz now cur-only
      $"v", $"src", "s0", "s1", "lang").collect().map(_.getString(0)).toSet ==
      Set("de", "en", "fr"))

    val xy = sample(Gen.listOfN(500, for {
      g <- Gen.oneOf("A", "B", "C")
      x <- Gen.choose(0, 40)
      y <- Gen.choose(0, 40)
    } yield (g, x, x + y))) ++
      List.tabulate(5)(i => ("K", i, 7)) // constant-y group: NULL rho, kept
    val df2 = xy.toDF("g", "x", "y")
    val gsp = Robust.spearmanRhoBy(df2, $"x", $"y", "g").collect()
    assert(gsp.map(_.getString(0)).toSet == Set("A", "B", "C", "K"))
    for (r <- gsp) {
      val g = r.getString(0)
      if (g == "K") // zero variance: try_divide → NULL, segment still visible
        assert(r.getAs[Long]("n") == 5L && r.isNullAt(2))
      else {
        val single = Robust.spearmanRho(df2.filter($"g" === g), $"x", $"y").collect()(0)
        assert(r.getAs[Long]("n") == single.getAs[Long]("n"), s"n mismatch in $g")
        assert(r.getAs[Double]("rho") == single.getAs[Double]("rho"),
          s"rho mismatch in $g")
      }
    }
  }

  test("bootstrapMedianCi matches a pure-Scala Poisson-bootstrap reference on random data") {
    import graft.operators.Bootstrap
    val P = 1000000007L; val A = 2654435761L
    def weight(k: Long, j: Int): Long = {
      val h = (((k % P) + P) % P) * A % P
      val x = (h + j * 1000003L) % P
      val u = ((x * x % P) * A + x) % P
      Bootstrap.PoissonCutoffs.count(c => u >= c).toLong
    }
    def cents(v: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(v).setScale(2, java.math.RoundingMode.HALF_UP)
    // ties (narrow domain), negatives (bit-grid sign region), and keys
    // spanning the old overflow boundary
    val data: List[(Long, Double)] = sample(Gen.listOfN(400, for {
      v <- Gen.choose(-60, 240)
    } yield v / 7.0)).zipWithIndex.map { case (v, i) =>
      val k = if (i % 37 == 0) Long.MaxValue - i else i.toLong + 1
      (k, v)
    }
    val R = 16
    val got = Bootstrap.bootstrapMedianCi(
      data.toDF("k", "v"), col("k"), col("v"), replicates = R).head()

    // first-principles reference: per replicate, sort by the cents value,
    // accumulate that replicate's weights, pick the first value whose
    // cumulative crosses ceil(W/2); CI = discrete order statistics
    val rows = data.map { case (k, v) => (k, cents(v)) }.sortBy(_._2)
    def wMedian(wOf: Long => Long): Option[Double] = {
      val tot = rows.map(r => wOf(r._1)).sum
      if (tot <= 0) None
      else {
        val target = (tot + 1) / 2
        var cum = 0L
        rows.find { r => cum += wOf(r._1); cum >= target }.map(_._2.doubleValue())
      }
    }
    val expMedian = wMedian(_ => 1L).get
    val ms = (0 until R).flatMap(j => wMedian(k => weight(k, j))).sorted
    val lo = ms((ms.length * 25 + 999) / 1000 - 1)
    val hi = ms((ms.length * 975 + 999) / 1000 - 1)
    assert(got.getAs[Long]("n") == data.length.toLong)
    assert(got.getAs[Double]("median") == expMedian)
    assert(got.getAs[Double]("ci_lo") == lo, s"ci_lo ${got.getAs[Double]("ci_lo")} != $lo")
    assert(got.getAs[Double]("ci_hi") == hi, s"ci_hi ${got.getAs[Double]("ci_hi")} != $hi")
  }

  test("mixtureWaterfill's one-scan cutoff equals the iterative fixpoint on random instances") {
    import graft.operators.Curation
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 6) {
      val srcs = (0 until 6).map(i =>
        (s"s$i", 1 + rnd.nextInt(500), 1L + rnd.nextInt(5)))
      val pct = Seq(30, 60, 90)(trial % 3)
      val df = srcs.map { case (g, n, _) =>
        (g, List.fill(n)("x").mkString(" ")) }.toDF("source", "text")
      val got = Curation.mixtureWaterfill(
        df, srcs.map(s => s._1 -> s._3).toMap, pct).collect()
        .map(r => r.getString(0) ->
          (r.getAs[Long]("alloc_tokens"), r.getAs[Boolean]("saturated"))).toMap
      // reference: the fixpoint definition — grow the saturated set until
      // stable (exact rational compares), then floor-allocate the rest
      val b = BigInt(srcs.map(_._2).sum) * pct / 100
      var satSet = Set.empty[String]
      var changed = true
      while (changed) {
        val lrem = b - srcs.filter(s => satSet(s._1)).map(s => BigInt(s._2)).sum
        val remW = srcs.filterNot(s => satSet(s._1)).map(s => BigInt(s._3)).sum
        val add = srcs.filterNot(s => satSet(s._1))
          .filter(s => BigInt(s._2) * remW <= lrem * s._3).map(_._1)
        changed = add.nonEmpty
        satSet ++= add
      }
      val lrem = b - srcs.filter(s => satSet(s._1)).map(s => BigInt(s._2)).sum
      val remW = srcs.filterNot(s => satSet(s._1)).map(s => BigInt(s._3)).sum
      for ((g, n, w) <- srcs) {
        val expAlloc = if (satSet(g)) n.toLong else (lrem * w / remW).toLong
        assert(got(g) == ((expAlloc, satSet(g))),
          s"trial $trial pct $pct src $g: got ${got(g)} exp ($expAlloc, ${satSet(g)})")
      }
    }
  }
  test("semDedup equals a brute-force keeper reference over random vector sets") {
    import graft.operators.Clustering
    def kh(id: Long): Long =
      ((id % 1000000007L + 1000000007L) % 1000000007L) * 2654435761L % 1000000007L
    // two fixed centroids close enough that random vectors land on BOTH
    // sides (the assignment itself is taken from the operator — this
    // property tests the prune fold); the first coordinate is floored
    // away from zero so no vector is the origin (cosine undefined there)
    val cents = Array(Array(-1.0, 0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0, 1.0))
    val gen = for {
      n <- Gen.choose(4, 18)
      ids <- Gen.pick(n, 1L to 400L)
      vecs <- Gen.listOfN(n, Gen.listOfN(4, Gen.choose(-10, 10)))
    } yield ids.toList.zip(vecs.map(v =>
      (v.head.toFloat / 5f + 0.3f) +: v.tail.map(_.toFloat / 5f)))
    val trials = sample(Gen.listOfN(40, gen))
    val tau = 0.3
    trials.zipWithIndex.foreach { case (rows, trial) =>
      val df = rows.toDF("vec_id", "embedding")
      val got = Clustering.semDedup(
          Clustering.cleanVectors(df, dim = 4), cents, tau).collect()
        .map(r => r.getAs[Int]("cluster") ->
          ((r.getAs[Long]("n"), r.getAs[Long]("n_pruned")))).toMap
      // reference: take the assignment as computed (tested elsewhere),
      // then per cluster the brute-force pair scan + the keeper rule —
      // pruned iff a smaller-(keyHash, id) neighbor at cosine >= tau
      val asg = Clustering.assign(
          Clustering.cleanVectors(df, dim = 4), cents)
        .select($"vec_id", $"cl").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val byCl = rows.groupBy { case (id, _) => asg(id) }
      for ((cl, members) <- byCl) {
        def cos(a: Seq[Float], b: Seq[Float]): Double = {
          var s = 0.0; var na = 0.0; var nb = 0.0
          for (i <- a.indices) {
            s += a(i).toDouble * b(i).toDouble
            na += a(i).toDouble * a(i).toDouble
            nb += b(i).toDouble * b(i).toDouble
          }
          val d = math.sqrt(na) * math.sqrt(nb)
          if (d == 0.0) 0.0 else s / d
        }
        def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        val pruned = members.count { case (id, v) =>
          members.exists { case (oid, ov) =>
            oid != id && r6(cos(v, ov)) >= tau &&
              (kh(oid) < kh(id) || (kh(oid) == kh(id) && oid < id))
          }
        }
        assert(got(cl) == ((members.size.toLong, pruned.toLong)),
          s"trial $trial cluster $cl: got ${got(cl)} " +
            s"exp (${members.size}, $pruned)")
      }
    }
  }

  test("Robust segment contract: each global form on empty input, each By form per segment") {
    import org.apache.spark.sql.{DataFrame, Row}
    import graft.operators.Robust
    // Segments: NULL (ids 0-3), 'one' (4-7: arm 0, split 'a', label true
    // only), 's1' (8-20) and 's2' (21-33); id 20 has a null x/v/label and
    // id 33 a null y/score/yi, so every per-pair null filter shows.
    val fx = spark.range(34).selectExpr(
      "CASE WHEN id < 4 THEN NULL WHEN id < 8 THEN 'one' " +
        "WHEN id < 21 THEN 's1' ELSE 's2' END AS seg",
      "id",
      "CASE WHEN id = 20 THEN NULL " +
        "ELSE element_at(array('a','b','c'), CAST(id % 3 + 1 AS INT)) END AS x",
      "CASE WHEN id = 33 THEN NULL " +
        "ELSE element_at(array('u','v'), CAST((id DIV 2) % 2 + 1 AS INT)) END AS y",
      "CASE WHEN id BETWEEN 4 AND 7 THEN 0 ELSE CAST(id % 2 AS INT) END AS arm",
      "CASE WHEN id BETWEEN 4 AND 7 THEN true ELSE (id * 7) % 3 = 0 END AS ok",
      "CASE WHEN id = 20 THEN NULL ELSE CAST((id * 37) % 19 AS DOUBLE) + 0.25 * (id % 4) END AS v",
      "CAST(id % 3 AS BIGINT) AS w",
      "CASE WHEN id = 33 THEN NULL " +
        "ELSE CAST(((id * 53) % 100) / 100.0 + 0.003 AS DOUBLE) END AS score",
      "CASE WHEN id = 20 THEN NULL " +
        "WHEN id BETWEEN 4 AND 7 THEN true ELSE (id * 5) % 3 <> 0 END AS label",
      "id % 2 = 0 AS r1", "id % 3 <> 0 AS r2", "(id * 5) % 3 <> 0 AS r3",
      "CASE WHEN id BETWEEN 4 AND 7 THEN 'a' WHEN id % 7 = 6 THEN 'c' " +
        "WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS split",
      "CAST(id % 4 AS INT) AS xi",
      "CASE WHEN id = 33 THEN NULL ELSE CAST((id * 3) % 5 AS INT) END AS yi")
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], fx.schema)
    val raters = Seq($"r1", $"r2", $"r3")
    // the scored projection is row-level: pin its per-(segment, half) sums
    def scoredSums(df: DataFrame, keys: String*): DataFrame =
      df.groupBy((keys :+ "is_cal").map(col): _*)
        .agg(count(lit(1)).as("n"), sum($"__id").as("ids"), sum($"q").as("sq"),
          sum($"a").as("sa"), sum($"y".cast("int")).as("ny"))
        .orderBy((keys :+ "is_cal").map(col): _*)
    val cases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "mutualInformation" -> (d => Robust.mutualInformation(d, "x", "y")),
      "mutualInformationBy" -> (d => Robust.mutualInformationBy(d, "x", "y", "seg")),
      "chiSquare" -> (d => Robust.chiSquare(d, "x", "y")),
      "chiSquareBy" -> (d => Robust.chiSquareBy(d, "x", "y", "seg")),
      "twoProportionZ" -> (d => Robust.twoProportionZ(d, $"arm", $"ok")),
      "twoProportionZBy" -> (d => Robust.twoProportionZBy(d, $"arm", $"ok", "seg")),
      "welchT" -> (d => Robust.welchT(d, $"arm", $"v")),
      "welchTBy" -> (d => Robust.welchTBy(d, $"arm", $"v", "seg")),
      "cochranArmitage" -> (d => Robust.cochranArmitage(d, $"w", $"ok")),
      "cochranArmitageBy" -> (d => Robust.cochranArmitageBy(d, $"w", $"ok", "seg")),
      "isotonicCalibration" -> (d => Robust.isotonicCalibration(d, $"score", $"label")),
      "isotonicCalibrationBy" -> (d =>
        Robust.isotonicCalibrationBy(d, $"score", $"label", "seg")),
      "fleissKappa" -> (d => Robust.fleissKappa(d, raters)),
      "fleissKappaBy" -> (d => Robust.fleissKappaBy(d, raters, "seg")),
      "conformalScored" -> (d =>
        scoredSums(Robust.conformalScored(d, $"id", $"score", $"label"))),
      "conformalScoredBy" -> (d =>
        scoredSums(Robust.conformalScoredBy(d, "seg", $"id", $"score", $"label"), "__g")),
      "conformalQhatRow" -> (d => Robust.conformalQhatRow(
        Robust.conformalScored(d, $"id", $"score", $"label"), 90)),
      "conformalQhatRowsBy" -> (d => Robust.conformalQhatRowsBy(
        Robust.conformalScoredBy(d, "seg", $"id", $"score", $"label"), 60).orderBy("__g")),
      "conformalGate" -> (d => Robust.conformalGate(d, $"id", $"score", $"label")),
      "conformalGateBy" -> (d =>
        Robust.conformalGateBy(d, $"id", $"score", $"label", "seg", 60)),
      "cohenKappa" -> (d => Robust.cohenKappa(d, $"r1", $"r3")),
      "cohenKappaBy" -> (d => Robust.cohenKappaBy(d, $"r1", $"r3", "seg")),
      "aucScore" -> (d => Robust.aucScore(d, $"score", $"label")),
      "aucScoreBy" -> (d => Robust.aucScoreBy(d, $"score", $"label", "seg")),
      "expectedCalibrationError" -> (d =>
        Robust.expectedCalibrationError(d, $"score", $"label")),
      "expectedCalibrationErrorBy" -> (d =>
        Robust.expectedCalibrationErrorBy(d, $"score", $"label", "seg")),
      "mannWhitneyU" -> (d => Robust.mannWhitneyU(d, $"v", $"split", "a", "b")),
      "mannWhitneyUBy" -> (d => Robust.mannWhitneyUBy(d, $"v", $"split", "a", "b", "seg")),
      "psiDrift" -> (d => Robust.psiDrift(d, $"v", $"split", "a", "b", 5)),
      "psiDriftBy" -> (d => Robust.psiDriftBy(d, $"v", $"split", "a", "b", "seg", 5)),
      "ksStatistic" -> (d => Robust.ksStatistic(d, $"v", $"split", "a", "b")),
      "ksStatisticBy" -> (d => Robust.ksStatisticBy(d, $"v", $"split", "a", "b", "seg")),
      "spearmanRho" -> (d => Robust.spearmanRho(d, $"xi", $"yi")),
      "spearmanRhoBy" -> (d => Robust.spearmanRhoBy(d, $"xi", $"yi", "seg")),
      "kendallTauB" -> (d => Robust.kendallTauB(d, $"xi", $"yi")),
      "kendallTauBBy" -> (d => Robust.kendallTauBBy(d, $"xi", $"yi", "seg")))
    def render(df: DataFrame): String =
      df.columns.mkString("[", ",", "]") + " " +
        df.collect().map(_.mkString("(", ",", ")")).mkString(" ")
    val expected = Map[String, String](
      "mutualInformation" -> "[n_rows,mi_nats] (null,0.0)",
      "mutualInformationBy" -> "[seg,n_rows,mi_nats] (one,4,0.346574) (s1,12,0.0) (s2,12,0.0)",
      "chiSquare" -> "[n_rows,dof,chi2,cramers_v] (null,1,null,null)",
      "chiSquareBy" ->
        ("[seg,n_rows,dof,chi2,cramers_v] (one,4,2,2.0,0.707107) (s1,12,2,0.0,0.0)" +
         " (s2,12,2,0.0,0.0)"),
      "twoProportionZ" -> "[n_a,conv_a,n_b,conv_b,z_stat] (null,null,null,null,null)",
      "twoProportionZBy" ->
        ("[seg,n_a,conv_a,n_b,conv_b,z_stat] (null,2,1,2,1,0.0) (s1,7,2,6,2,-0.18545)" +
         " (s2,6,2,7,3,-0.351866)"),
      "welchT" -> "[n_a,n_b,mean_a,mean_b,t_stat,welch_df] (null,null,null,null,null,null)",
      "welchTBy" ->
        ("[seg,n_a,n_b,mean_a,mean_b,t_stat,welch_df]" +
         " (null,2,2,8.75,17.5,-0.996347,1.014693)" +
         " (s1,7,6,5.357143,5.5,-0.066268,10.963523)" +
         " (s2,6,7,11.25,11.464286,-0.094677,10.976774)"),
      "cochranArmitage" -> "[k,n_rows,n_success,z_stat] (0,null,null,null)",
      "cochranArmitageBy" ->
        ("[seg,k,n_rows,n_success,z_stat] (one,3,4,4,null) (s1,3,13,4,-3.124492)" +
         " (s2,3,13,5,-3.175879)"),
      "isotonicCalibration" -> "[bin,n,avg_pred,frac_pos,frac_iso] ",
      "isotonicCalibrationBy" ->
        ("[seg,bin,n,avg_pred,frac_pos,frac_iso] (one,1,2,0.153,1.0,1.0)" +
         " (one,6,1,0.653,1.0,1.0) (one,7,1,0.713,1.0,1.0) (s1,0,2,0.043,1.0,0.666667)" +
         " (s1,2,1,0.243,1.0,0.666667) (s1,3,2,0.333,0.5,0.666667)" +
         " (s1,4,2,0.453,1.0,0.666667) (s1,5,1,0.543,0.0,0.666667)" +
         " (s1,7,1,0.773,0.0,0.666667) (s1,8,2,0.863,1.0,0.666667)" +
         " (s1,9,1,0.953,0.0,0.666667) (s2,1,2,0.163,0.5,0.5)" +
         " (s2,2,1,0.253,1.0,0.666667) (s2,3,2,0.343,0.5,0.666667)" +
         " (s2,4,1,0.433,1.0,0.714286) (s2,6,1,0.663,1.0,0.714286)" +
         " (s2,7,2,0.753,0.5,0.714286) (s2,8,1,0.843,1.0,0.714286)" +
         " (s2,9,2,0.933,0.5,0.714286)"),
      "fleissKappa" -> "[n,p_bar,p_e,kappa] (0,null,null,null)",
      "fleissKappaBy" ->
        ("[seg,n,p_bar,p_e,kappa] (one,4,0.5,0.555556,-0.125)" +
         " (s1,13,0.692308,0.539776,0.331429) (s2,13,0.692308,0.508218,0.374332)"),
      "conformalScored" -> "[is_cal,n,ids,sq,sa,ny] ",
      "conformalScoredBy" ->
        ("[__g,is_cal,n,ids,sq,sa,ny] (one,false,2,13,0.896000,1.104000,2)" +
         " (one,true,2,9,0.776000,1.224000,2) (s1,false,6,84,2.538000,3.274000,4)" +
         " (s1,true,6,78,3.358000,4.094000,4) (s2,false,6,165,3.468000,3.784000,4)" +
         " (s2,true,6,153,3.108000,1.784000,4)"),
      "conformalQhatRow" -> "[qhat,n_cal] (1.000000,0)",
      "conformalQhatRowsBy" -> "[__g,n_cal,qhat] (one,2,0.877000) (s1,6,0.953000) (s2,6,0.337000)",
      "conformalGate" -> "[n_cal,n_test,qhat,coverage,avg_set_size] (null,0,null,null,null)",
      "conformalGateBy" ->
        ("[seg,n_cal,n_test,qhat,coverage,avg_set_size] (one,2,2,0.877,1.0,2.0)" +
         " (s1,6,6,0.953,1.0,2.0) (s2,6,6,0.337,0.166667,0.666667)"),
      "cohenKappa" -> "[n_rows,n_agree,kappa] (null,null,null)",
      "cohenKappaBy" ->
        ("[seg,n_rows,n_agree,kappa] (one,4,1,-0.5) (s1,13,7,0.04878) (s2,13,7,0.093023)"),
      "aucScore" -> "[n_pos,n_neg,auc,z_stat] (null,null,null,null)",
      "aucScoreBy" ->
        ("[seg,n_pos,n_neg,auc,z_stat] (s1,8,4,0.25,-1.358732) (s2,8,4,0.5625,0.339683)"),
      "expectedCalibrationError" -> "[n_rows,ece] (null,0.0)",
      "expectedCalibrationErrorBy" ->
        ("[seg,n_rows,ece] (one,4,0.582) (s1,12,0.5535) (s2,12,0.347333)"),
      "mannWhitneyU" -> "[n_a,n_b,u2_a,z_stat] (null,null,null,null)",
      "mannWhitneyUBy" -> "[seg,n_a,n_b,u2_a,z_stat] (s1,6,5,36,0.547723) (s2,6,6,36,0.0)",
      "psiDrift" -> "[n_ref,n_cur,psi] ",
      "psiDriftBy" ->
        ("[seg,n_ref,n_cur,psi] (null,0,0,0.0) (one,4,0,0.135214) (s1,6,5,0.120632)" +
         " (s2,6,6,0.189346)"),
      "ksStatistic" -> "[n_a,n_b,ks_stat] (null,null,null)",
      "ksStatisticBy" -> "[seg,n_a,n_b,ks_stat] (s1,6,5,0.266667) (s2,6,6,0.166667)",
      "spearmanRho" -> "[n,rho] (0,null)",
      "spearmanRhoBy" -> "[seg,n,rho] (one,4,0.0) (s1,13,-0.086711) (s2,12,0.055048)",
      "kendallTauB" -> "[n,concordant,discordant,tau_b] (null,0,0,null)",
      "kendallTauBBy" ->
        ("[seg,n,concordant,discordant,tau_b] (one,4,3,3,0.0) (s1,13,24,28,-0.061568)" +
         " (s2,12,24,21,0.054074)"))
    val got = cases.map { case (name, f) =>
      name -> render(f(if (name.endsWith("By")) fx else empty))
    }
    val diff = got.filter { case (n, r) => !expected.get(n).contains(r) }
    assert(got.size == expected.size)
    assert(diff.isEmpty,
      diff.map { case (n, r) => "\"" + n + "\" -> \"" + r + "\"," }.mkString("\n", "\n", ""))
  }
}
