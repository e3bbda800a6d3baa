package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextAnalysis
import graft.operators.{BloomJoin, Robust, SequencePack}

/** Round-3 curation/scale operators: bloom semi-join reduction, sequence
  * packing, line dedup, sliding chunks, robust stats. */
class CurationSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("bloom semiReduce keeps every true match (no false negatives) and prunes most others") {
    val dim = (0L until 100L).filter(_ % 10 == 0).toDF("k") // 10 selective keys
    val fact = (0L until 10000L).map(i => (i, i % 100)).toDF("row_id", "fk")
    val reduced = BloomJoin.semiReduce(fact, $"fk", dim, "k", expectedItems = 1000)
    val exact = fact.join(dim, $"fk" === $"k")
    val reducedJoin = reduced.join(dim, $"fk" === $"k")
    // identical exact result through the prefilter
    assert(reducedJoin.count() == exact.count())
    assert(reducedJoin.except(exact).isEmpty && exact.except(reducedJoin).isEmpty)
    // and the prefilter genuinely reduced the fact side (10% true + fpp)
    val kept = reduced.count()
    assert(kept >= exact.count() / dim.count() * 10) // sanity: >= true match keys
    assert(kept < 10000, s"bloom prefilter kept everything ($kept rows)")
    assert(kept < 2000, s"bloom prefilter barely reduced ($kept of 10000)")
  }

  test("bloom mightContain rejects non-integer keys at analysis time") {
    val bf = (1L to 10L).toDF("k").stat.bloomFilter("k", 100, 0.01)
    val strings = Seq("a", "b").toDF("s")
    val ex = intercept[AnalysisException] {
      strings.filter(BloomJoin.mightContain($"s", bf)).collect()
    }
    assert(ex.getMessage.contains("bloom_might_contain"))
  }

  test("sequence packing equals the single-window twin and never globally re-sorts the data") {
    val docs = (0L until 997L).map(i => (i, 1 + (i * 7919 % 93).toInt))
      .toDF("doc_id", "n_toks")
    val packed = SequencePack.packAssignments(docs, "doc_id", $"n_toks", capacity = 256,
      bucketWidth = 64)
    // twin: the naive global-window formulation (fine at test scale)
    val w = Window.orderBy("doc_id")
    val twin = docs
      .withColumn("start", sum("n_toks").over(w) - $"n_toks")
      .select($"doc_id", $"n_toks".cast("int").as("n_tokens"),
        expr("start div 256").as("seq_id"),
        pmod($"start", lit(256L)).cast("int").as("seq_offset"),
        (expr("(start + n_toks - 1) div 256") - expr("start div 256") + 1).cast("int").as("n_seqs"),
        (expr("(start + n_toks - 1) div 256") =!= expr("start div 256")).as("straddles"))
    assert(packed.except(twin).isEmpty && twin.except(packed).isEmpty)
    // plan shape: every window over the DOC-SIZED side is partitioned; the
    // only unpartitioned window runs over the bucket totals (64× smaller)
    val plan = packed.queryExecution.executedPlan.toString()
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty)
    // the doc-level window must carry the bucket partition key
    assert(plan.contains("__bucket"))
  }

  test("sequence packing conserves tokens: every sequence boundary accounted once") {
    val docs = Seq((0L, 100), (1L, 200), (2L, 300), (3L, 50)).toDF("doc_id", "n_toks")
    val rows = SequencePack.packAssignments(docs, "doc_id", $"n_toks", capacity = 128)
      .orderBy("doc_id").collect()
    // doc0: [0,100) seq0 off0; doc1: [100,300) seq0 off100 spans 0..2 → 3 seqs
    assert(rows(0).getAs[Long]("seq_id") == 0 && rows(0).getAs[Int]("seq_offset") == 0
      && !rows(0).getAs[Boolean]("straddles"))
    assert(rows(1).getAs[Long]("seq_id") == 0 && rows(1).getAs[Int]("seq_offset") == 100
      && rows(1).getAs[Int]("n_seqs") == 3 && rows(1).getAs[Boolean]("straddles"))
    // doc2 starts at 300: seq 2 offset 44
    assert(rows(2).getAs[Long]("seq_id") == 2 && rows(2).getAs[Int]("seq_offset") == 300 - 256)
  }

  test("lineDedup removes a repeated 10-token block corpus-wide, keeping first occurrence") {
    val block = (1 to 10).map(i => s"tok$i").mkString(" ")
    val other = (11 to 20).map(i => s"tok$i").mkString(" ")
    val third = (21 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (0L, s"$block $other"), // both blocks fresh
      (1L, s"$block $third"), // first block is a corpus-dup → dropped
      (2L, third) // dup of doc1's second block → dropped entirely
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.lineDedup(docs).orderBy("doc_id").collect()
    assert(rows(0).getAs[Int]("n_blocks") == 2 && rows(0).getAs[Int]("n_kept") == 2)
    assert(rows(1).getAs[Int]("n_blocks") == 2 && rows(1).getAs[Int]("n_kept") == 1)
    assert(rows(2).getAs[Int]("n_blocks") == 1 && rows(2).getAs[Int]("n_kept") == 0)
    // doc2's surviving text is empty → sha of ""
    assert(rows(2).getAs[String]("kept_sha") ==
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855")
  }

  test("slidingChunks covers every token with stride spacing and truncated tail") {
    val docs = Seq((0L, (1 to 150).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val rows = TextAnalysis.slidingChunks(docs, window = 64, stride = 48)
      .orderBy("chunk_id").collect()
    // n=150: chunks at 0,48,96 → ceil((150-64)/48)+1 = 3
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Int]("start_tok")).toSeq == Seq(0, 48, 96))
    assert(rows(0).getAs[Int]("n_chunk_tokens") == 64)
    assert(rows(2).getAs[Int]("n_chunk_tokens") == 54) // truncated tail
    assert(rows(2).getAs[String]("last_tok") == "t150") // full coverage
    // short doc → single whole-doc chunk
    val one = TextAnalysis.slidingChunks(
      Seq((1L, "a b c")).toDF("doc_id", "text")).collect()
    assert(one.length == 1 && one(0).getAs[Int]("n_chunk_tokens") == 3)
  }

  test("incrementalDedup classifies by precedence: exact_corpus > exact_batch > near > kept") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val aNear = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val fresh = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (0L, a), // corpus
      (1L, fresh), // corpus
      (10L, a), // exact dup of corpus doc 0
      (11L, "brand new content about engines and shuffles here today"),
      (12L, "brand new content about engines and shuffles here today"), // exact dup of 11 (batch)
      (13L, aNear), // near-dup of corpus doc 0 (not exact)
      (14L, "totally unrelated words nobody repeats anywhere else ever written")
    ).toDF("doc_id", "text")
    val got = graft.operators.Curation.incrementalDedup(docs, splitId = 10L, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      10L -> "exact_corpus",
      11L -> "kept",
      12L -> "exact_batch",
      13L -> "near_corpus",
      14L -> "kept"))
  }

  test("dataMixture clamps oversampled sources to rate 1.0 and samples deterministically") {
    val docs = (0L until 400L).map { i =>
      val src = if (i < 20) "rare" else "common"
      (i, src, (1 to 50).map(j => s"w${i}_$j").mkString(" "))
    }.toDF("doc_id", "source", "text")
    // rare: 20 docs × 50 tok = 1000 avail; common: 19000. budget = 0.5·20000
    // weights 1:1 → target 5000 each → rare rate clamps to 1.0
    val r = graft.operators.Curation.dataMixture(
      docs, Map("rare" -> 1.0, "common" -> 1.0), budgetFrac = 0.5)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(r("rare").getAs[Double]("rate") == 1.0)
    assert(r("rare").getAs[Long]("n_kept") == 20L) // rate 1 keeps everything
    val commonRate = r("common").getAs[Double]("rate")
    assert(commonRate > 0.2 && commonRate < 0.3) // 5000/19000 ≈ 0.263
    val kept = r("common").getAs[Long]("n_kept")
    assert(kept > 0 && kept < 380)
    // deterministic: second run identical
    val again = graft.operators.Curation.dataMixture(
      docs, Map("rare" -> 1.0, "common" -> 1.0), budgetFrac = 0.5).collect()
    assert(again.map(_.getAs[Long]("n_kept")).sum == 20L + kept)
  }

  test("datasetSplit assigns every doc exactly once with ~90/5/5 shape") {
    val docs = (0L until 1000L).map(i => (i, "s", "a b c")).toDF("doc_id", "source", "text")
    val rows = graft.operators.Curation.datasetSplit(docs).collect()
    val byodSplit = rows.map(r => r.getString(1) -> r.getAs[Long]("n_docs")).toMap
    assert(byodSplit.values.sum == 1000L)
    assert(byodSplit("train") > 850 && byodSplit("train") < 950)
    assert(byodSplit.keySet == Set("train", "val", "test"))
  }

  test("splitLeakage counts near-dup clusters that span splits") {
    // replicate the doc-id split hash to plant a cross-split duplicate
    def splitOf(id: Long) = {
      val h = java.lang.Math.floorMod(id * 2654435761L, 1000000007L) % 100
      if (h < 90) "train" else if (h < 95) "val" else "test"
    }
    val ids = 1L to 400L
    val train = ids.filter(splitOf(_) == "train")
    val test = ids.filter(splitOf(_) == "test")
    assert(train.size >= 2 && test.nonEmpty)
    val dupA = "alpha beta gamma delta epsilon zeta eta theta"
    val dupB = "one two three four five six seven eight nine"
    val docs = Seq(
      (train(0), "s", dupA), (test(0), "s", dupA), // duplicate ACROSS splits: leaky
      (train(1), "s", dupB), (train(2), "s", dupB), // duplicate within train: clean
      (train(3), "s", "lonely unique filler document text here"), // singleton
      (train(4), "s", "another quite different filler doc entirely"))
      .toDF("doc_id", "source", "text")
    val got = graft.operators.Curation.splitLeakage(docs).collect()(0)
    assert(got.getAs[Long]("n_clusters") == 2)
    assert(got.getAs[Long]("n_leaky_clusters") == 1)
    assert(got.getAs[Long]("n_leaky_docs") == 2)
    // all-clean corpus: zero leaks, zero-coalesced doc count
    val clean = Seq((train(0), "s", dupA), (train(1), "s", dupA))
      .toDF("doc_id", "source", "text")
    val g2 = graft.operators.Curation.splitLeakage(clean).collect()(0)
    assert(g2.getAs[Long]("n_clusters") == 1 && g2.getAs[Long]("n_leaky_clusters") == 0)
    assert(g2.getAs[Long]("n_leaky_docs") == 0)
    // the remedy: cluster-root hashing reunites the leaky pair in one
    // split, every doc still assigned exactly once, re-audit leak-free
    val fixed = graft.operators.Curation.splitByCluster(docs).collect()
    assert(fixed.map(_.getAs[Long]("n_docs")).sum == 6L)
    assert(fixed.map(_.getAs[Long]("n_clustered_docs")).sum == 4L)
    assert(fixed.forall(_.getAs[Boolean]("leak_free")))
  }

  test("vocabGrowth: exact Heaps curve on a known corpus") {
    // doc i = "common w<i>": at decile k (docs 1..k) tokens = 2k,
    // vocab = k + 1 (the shared word plus k fresh ones)
    val docs = (0L until 10L).map(i => (i, s"common w$i")).toDF("doc_id", "text")
    val got = graft.operators.Curation.vocabGrowth(docs).collect()
    assert(got.map(_.getInt(0)).toSeq == (1 to 10))
    for (r <- got) {
      val k = r.getInt(0).toLong
      assert(r.getAs[Long]("n_docs") == k)
      assert(r.getAs[Long]("n_tokens") == 2 * k)
      assert(r.getAs[Long]("vocab") == k + 1, s"vocab at decile $k")
    }
    // duplicate tail: the last half brings zero new vocabulary — the
    // curve flattens exactly (the curation alarm this audit exists for)
    val dupTail = ((0L until 5L).map(i => (i, s"u$i x$i")) ++
      (5L until 10L).map(i => (i, "u0 x0"))).toDF("doc_id", "text")
    val flat = graft.operators.Curation.vocabGrowth(dupTail).collect()
    val vocabAt = flat.map(r => r.getInt(0) -> r.getAs[Long]("vocab")).toMap
    assert(vocabAt(5) == 10 && vocabAt(10) == 10)
  }

  test("dupRateByBatch: duplicate tail concentrates in the last batches") {
    // 20 docs, 2 per batch; the last four docs are identical -> batches
    // 9 and 10 fully duplicated, everything earlier clean
    val docs = ((0L until 16L).map(i => (i, "s", s"unique u$i x$i y$i")) ++
      (16L until 20L).map(i => (i, "s", "same same text here")))
      .toDF("doc_id", "source", "text")
    val got = graft.operators.Curation.dupRateByBatch(docs).collect()
    assert(got.map(_.getInt(0)).toSeq == (1 to 10))
    assert(got.forall(_.getAs[Long]("n_docs") == 2L))
    val rates = got.map(r => r.getInt(0) -> r.getAs[Double]("dup_rate")).toMap
    assert((1 to 8).forall(rates(_) == 0.0))
    assert(rates(9) == 1.0 && rates(10) == 1.0)
  }

  test("zipfFit recovers an exact power law; degenerate heads are NULL") {
    // counts 24/r at ranks 1..4: ln f = ln 24 - ln rank, so slope = -1,
    // r^2 = 1 up to float residue that the 6-dp round absorbs
    val text = (Seq.fill(24)("a") ++ Seq.fill(12)("b") ++
      Seq.fill(8)("c") ++ Seq.fill(6)("d")).mkString(" ")
    val docs = Seq((0L, text)).toDF("doc_id", "text")
    val got = graft.operators.Curation.zipfFit(docs).collect()(0)
    assert(got.getAs[Long]("n_terms") == 4)
    assert(got.getAs[Double]("slope") == -1.0)
    assert(got.getAs[Double]("r2") == 1.0)
    assert(got.getAs[Double]("intercept") == BigDecimal(math.log(24.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // all-equal frequencies: zero y-variance -> NULL r2, slope 0
    val flat = Seq((0L, "x y z")).toDF("doc_id", "text")
    val f = graft.operators.Curation.zipfFit(flat).collect()(0)
    assert(f.getAs[Double]("slope") == 0.0 && f.isNullAt(3))
    // single token: k < 2 -> all NULL stats
    val one = Seq((0L, "solo")).toDF("doc_id", "text")
    assert(graft.operators.Curation.zipfFit(one).collect()(0).isNullAt(1))
  }

  test("curationAudit: first failing gate wins in fixed order") {
    val en = "the cat sat of the mat and the dog is in the house with a friend of mine today"
    val docs = Seq(
      (0L, en + " extra words to pass all gates easily one two three"), // kept
      (1L, "der und ist ein das die der und ist ein das die der und ist ein das die der und"), // lang_other
      (2L, "the cat sat"), // en but too short
      (3L, "the the the the the the the the the the the the the the the the the the the the") // en, 20 toks, low ttr
    ).toDF("doc_id", "text")
    val got = graft.operators.Curation.curationAudit(docs)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("reason")).toMap
    assert(got(0L) == "kept")
    assert(got(1L) == "lang_other")
    assert(got(2L) == "too_short")
    assert(got(3L) == "low_quality") // TTR gate fires before repetition
  }

  test("jaroWinkler matches the reference scorer on golden pairs, both execution paths") {
    // golden values probed from DuckDB jaro_winkler_similarity
    val golden = Seq(
      ("dwayne", "duane", 0.8400000000000001),
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("abcdefgh", "abzzzzzz", 0.5), // boost NOT applied at jaro <= 0.7
      ("abcdef", "bcadef", 0.9444444444444445), // odd transpositions floor
      ("ab", "ab", 1.0),
      ("a", "", 0.0),
      ("", "", 0.0))
    golden.foreach { case (a, b, exp) =>
      assert(math.abs(graft.functions.JaroWinklerImpl.jw(a, b) - exp) < 1e-12,
        s"scalar jw($a, $b)")
    }
    // expression path (codegen) equals the scalar impl on real data
    val df = Seq(("dwayne", "duane"), ("dixon", "dicksonx"), ("", "x")).toDF("a", "b")
    val rows = df.select(
      graft.functions.JaroWinklerImpl.jaroWinkler($"a", $"b").as("sim")).collect()
    assert(math.abs(rows(0).getDouble(0) - 0.8400000000000001) < 1e-12)
    assert(math.abs(rows(1).getDouble(0) - 0.8133333333333332) < 1e-12)
    assert(rows(2).getDouble(0) == 0.0)
    // analysis-time rejection of non-string inputs
    val ex = intercept[AnalysisException] {
      Seq((1, 2)).toDF("x", "y")
        .select(graft.functions.JaroWinklerImpl.jaroWinkler($"x", $"y")).collect()
    }
    assert(ex.getMessage.contains("jaro_winkler"))
  }

  test("scd2 query plans a single keyed exchange: collapse + both windows share it") {
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the query minus the harness-only output sort (which adds a range
      // exchange that a production pipeline would not have)
      import org.apache.spark.sql.expressions.Window
      val orders = graft.sources.Tables.orders(spark, "/root/testdata/sf0.001")
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val snap = orders
        .select($"o_custkey", $"o_orderdate", $"o_orderkey", $"o_orderstatus".as("status"))
        .withColumn("__nd", lead($"o_orderdate", 1).over(w))
        .filter($"__nd".isNull || $"__nd" =!= $"o_orderdate")
        .drop("__nd", "o_orderkey")
      val scd = graft.transform.Transforms.scdType2(snap, "o_custkey", "o_orderdate", "status")
      val shuffles = scd.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(shuffles.length == 1, s"expected 1 shuffle, got ${shuffles.length}")
      // and the interval chain itself stays correct
      val sorts = scd.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }
      assert(sorts.length == 1, s"window re-sorts should collapse, got ${sorts.length}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("sourceGini: hand-computed shares, evenness zero, dominance limit") {
    import graft.operators.Curation
    def df(rows: Seq[(String, String)]) = rows.toDF("source", "text")
    // shares [1, 3] over 2 sources: G = ((2·1−3)·1 + (2·2−3)·3)/(2·4) = 0.25
    val g = Curation.sourceGini(df(Seq(("a", "x"), ("b", "x x x")))).head()
    assert(g.getAs[Long]("n_sources") == 2L && g.getAs[Long]("n_tokens") == 4L)
    assert(g.getAs[Double]("gini") == 0.25)
    // perfectly even shares → 0
    val even = Curation.sourceGini(df(Seq(("a", "x x"), ("b", "y y"), ("c", "z z")))).head()
    assert(even.getAs[Double]("gini") == 0.0)
    // one dominant source approaches (n−1)/n
    val dom = Curation.sourceGini(df(Seq(("a", "x"), ("b", Seq.fill(999)("y").mkString(" "))))).head()
    assert(dom.getAs[Double]("gini") > 0.49 && dom.getAs[Double]("gini") < 0.5)
  }

  test("robustStats: discrete quantiles, MAD and winsorized mean on a known fixture") {
    // group g: values 1..20 → n=20, p05 = v@rank1 = 1, med = v@rank10 = 10,
    // p95 = v@rank19 = 19; MAD: |v-10| sorted → rank10 value = 5
    val df = (1 to 20).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val r = Robust.robustStats(df, "grp", $"v").collect()(0)
    assert(r.getAs[Long]("n") == 20)
    assert(r.getAs[Double]("p05") == 1.0)
    assert(r.getAs[Double]("median") == 10.0)
    assert(r.getAs[Double]("p95") == 19.0)
    assert(r.getAs[Double]("mad") == 5.0)
    // winsorized: 1 and 20 clamp to [1,19] → only 20→19; mean = (210-1)/20
    assert(math.abs(r.getAs[Double]("wins_mean") - 209.0 / 20.0) < 1e-9)
  }

  test("jsDivergence: matches a first-principles replay; bounded by ln 2; residual bucket exact") {
    import graft.operators.Curation
    // A mirrors the corpus mixture loosely, B is concentrated, C disjoint;
    // v=2 forces real residual mass through the closed-form bucket
    val docs = Seq(
      (0L, "x x y z", "A"), (1L, "x y", "A"),
      (2L, "x x x x", "B"),
      (3L, "w w q", "C"))
      .toDF("doc_id", "text", "source")
    val got = Curation.jsDivergence(docs, v = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toList
    // first-principles replay over top-2 vocab + residual
    val tokens = Seq("A" -> "x x y z x y", "B" -> "x x x x", "C" -> "w w q")
      .flatMap { case (s, t) => t.split(" ").map(s -> _) }
    val corpusCnt = tokens.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val top = corpusCnt.toSeq.sortBy { case (t, c) => (-c, t) }.take(2).map(_._1).sorted
    val qtot = tokens.size.toDouble
    def dist(cnt: Map[String, Long], n: Double): Seq[Double] = {
      val tops = top.map(t => cnt.getOrElse(t, 0L).toDouble / n)
      tops :+ (cnt.values.sum - top.map(t => cnt.getOrElse(t, 0L)).sum) / n
    }
    val q = dist(corpusCnt, qtot)
    def js(p: Seq[Double]): Double = p.zip(q).map { case (pi, qi) =>
      val m = (pi + qi) / 2.0
      0.5 * ((if (pi > 0) pi * math.log(pi / m) else 0.0) +
        (if (qi > 0) qi * math.log(qi / m) else 0.0))
    }.sum
    for ((src, n, jsGot) <- got) {
      val cnt = tokens.filter(_._1 == src).groupBy(_._2).view.mapValues(_.size.toLong).toMap
      assert(n == cnt.values.sum, s"token count mismatch for $src")
      val want = js(dist(cnt, n.toDouble))
      assert(math.abs(jsGot - want) < 1e-6, s"js mismatch for $src: $jsGot vs $want")
      assert(jsGot >= 0.0 && jsGot <= math.log(2.0) + 1e-9, s"js out of [0, ln 2] for $src")
    }
    // the concentrated single-token source diverges more than the mixed one
    val bySrc = got.map(r => r._1 -> r._3).toMap
    assert(bySrc("C") > bySrc("A"))
  }

  test("dsirWeights: target-distinctive docs score above source-typical docs") {
    import graft.operators.Curation
    // target slice speaks "alpha beta"; raw background speaks "delta gamma"
    val docs = (
      Seq.tabulate(10)(i => (i.toLong, "alpha beta alpha beta alpha", "en")) ++
      Seq.tabulate(10)(i => (10L + i, "delta gamma delta gamma delta", "xx")) ++
      Seq((20L, "alpha beta alpha", "xx"), (21L, "delta gamma delta", "xx")))
      .toDF("doc_id", "text", "lang")
    val w = Curation.dsirWeights(docs, $"lang" === "en")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("weight")).toMap
    // the held-out target-like doc (20) outscores the source-like doc (21)
    assert(w(20L) > w(21L))
    assert(w(0L) > 0 && w(10L) < w(0L))
  }

  test("qualityScore: stopword-rich prose outscores token-soup; keep flag matches 0.5 cut") {
    import graft.operators.Curation
    val docs = Seq(
      (0L, "the cat is in the hat and the dog is in the yard of the house"),
      (1L, "zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz"))
      .toDF("doc_id", "text")
    val rows = Curation.qualityScore(docs).orderBy($"doc_id").collect()
    assert(rows(0).getAs[Double]("quality") > rows(1).getAs[Double]("quality"))
    rows.foreach(r =>
      assert(r.getAs[Boolean]("keep") == (r.getAs[Double]("quality") >= 0.5)))
  }

  test("mixtureReweight: high-excess source upweights, simplex preserved, independent fold agrees") {
    val C = graft.operators.Curation
    // two planted sources: "a" = stopword-rich prose (high quality, low
    // excess), "b" = token soup (low quality, high excess)
    val docs = ((0L until 10L).map(i =>
        (i, "the cat sat on the mat and the dog is in the house", "a")) ++
      (10L until 20L).map(i =>
        (i, "zq xv kj pw qq ml nb vc xs wd", "b")))
      .toDF("doc_id", "text", "source")
    val out = C.mixtureReweight(spark, docs, eta = 1.0, iters = 5,
        sources = IndexedSeq("a", "b")).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Double]("excess"), r.getAs[Double]("weight"))).toMap
    assert(out("b")._1 > out("a")._1)       // soup has higher excess loss
    assert(out("b")._2 > out("a")._2)       // ... and upweights
    // simplex: per-iteration 6dp rounding keeps the sum within 1 ulp6
    assert(math.abs(out("a")._2 + out("b")._2 - 1.0) <= 2e-6)
    // independent driver fold over the same excesses reproduces exactly
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val e = Array(out("a")._1, out("b")._1)
    var w = Array(0.5, 0.5)
    for (_ <- 1 to 5) {
      val raw = Array(r6(w(0) * math.exp(e(0))), r6(w(1) * math.exp(e(1))))
      val z = raw(0) + raw(1)
      w = raw.map(r => r6(r / z))
    }
    assert(out("a")._2 == w(0) && out("b")._2 == w(1))
  }

  test("mixtureReweight domain guard: an absent source zero-fills, an unknown name fails fast") {
    val C = graft.operators.Curation
    val docs = (0L until 5L)
      .map(i => (i, "the cat sat on the mat", "a"))
      .toDF("doc_id", "text", "source")
    // "b" is in the vocabulary but absent from the slice: zero-fill —
    // n_docs 0, excess 1.0 (maximally under-served), weights still sum
    val out = C.mixtureReweight(spark, docs, eta = 1.0, iters = 5,
        sources = IndexedSeq("a", "b")).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("excess"))).toMap
    assert(out("b") == (0L, 1.0) && out("a")._1 == 5L)
    // a name OUTSIDE the vocabulary means the domain moved upstream
    // (e.g. a rename): fail fast, never silently shift the mixture
    val renamed = (0L until 5L)
      .map(i => (i, "the cat sat on the mat", "a-renamed"))
      .toDF("doc_id", "text", "source")
    val e = intercept[IllegalArgumentException] {
      C.mixtureReweight(spark, renamed, eta = 1.0, iters = 5,
        sources = IndexedSeq("a", "b"))
    }
    assert(e.getMessage.contains("domain moved"))
  }

  test("mixturePlan: invariant booleans hold on random corpus slices, absent sources included") {
    val C = graft.operators.Curation
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { _ =>
      // a random 2-5 source slice of the fixed vocabulary: most of the
      // 20 sources are ABSENT, so the simplex invariant must be read
      // off the full-vocabulary weight table, not the joined plan rows
      val srcs = rnd.shuffle(C.Sources).take(2 + rnd.nextInt(4))
      val docs = (0L until (10L + rnd.nextInt(30))).map { i =>
        val words = (0 to 3 + rnd.nextInt(12)).map(_ => s"w${rnd.nextInt(20)}")
          .mkString(" ")
        (i, words, srcs((i % srcs.length).toInt))
      }.toDF("doc_id", "text", "source")
      val out = C.mixturePlan(spark, docs).collect()
      assert(out.nonEmpty && out.length == srcs.length)
      out.foreach { r =>
        assert(r.getAs[Boolean]("weights_sum_ok"))
        assert(r.getAs[Boolean]("priced_within_request"))
        assert(r.getAs[Boolean]("alloc_within_avail"))
        assert(r.getAs[Boolean]("alloc_within_budget"))
        // the row-level facts behind the rollup booleans
        assert(r.getAs[Double]("effective_tokens") <=
          r.getAs[Long]("request_tokens").toDouble)
        assert(r.getAs[Long]("alloc_tokens") <= r.getAs[Long]("avail_tokens"))
      }
    }
  }

  test("paddingWaste: planted lengths land in their buckets, waste exact, truncation counts at maxLen") {
    val C = graft.operators.Curation
    // maxLen 16, 4 buckets of width 4: lengths 1 (bucket 1), 4 (edge of
    // bucket 1), 5 (bucket 2), 12 (edge of bucket 3), 20 (truncated to
    // 16 → bucket 4, waste 0)
    def doc(i: Long, n: Int) = (i, Seq.fill(n)("w").mkString(" "), "s0")
    val docs = Seq(doc(0, 1), doc(1, 4), doc(2, 5), doc(3, 12), doc(4, 20))
      .toDF("doc_id", "text", "source")
    val out = C.paddingWaste(docs, maxLen = 16, buckets = 4).collect()
      .map(r => r.getAs[Long]("bucket") -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    // bucket 1: lengths {1, 4} → padded_to 4, waste (4−1)+(4−4)=3;
    // flat waste (16−1)+(16−4)=27
    assert(out(1L).getAs[Long]("padded_to") == 4L &&
      out(1L).getAs[Long]("n_docs") == 2L &&
      out(1L).getAs[Long]("waste_bucketed") == 3L &&
      out(1L).getAs[Long]("waste_flat") == 27L)
    // bucket 2: length 5 → padded_to 8, waste 3; bucket 3: 12 → edge,
    // waste 0; bucket 4: truncated 16, waste 0 both ways
    assert(out(2L).getAs[Long]("waste_bucketed") == 3L &&
      out(3L).getAs[Long]("waste_bucketed") == 0L &&
      out(4L).getAs[Long]("waste_bucketed") == 0L &&
      out(4L).getAs[Long]("waste_flat") == 0L &&
      out(4L).getAs[Long]("sum_tokens") == 16L)
    // overall fractions: Σwb=6, Σtokens=38 → 6/44; Σwf=42 over 5·16=80
    assert(out(1L).getAs[Double]("waste_frac_bucketed") ==
      BigDecimal(6.0 / 44.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(1L).getAs[Double]("waste_frac_flat") == 0.525)
    assert(out.values.forall(_.getAs[Boolean]("bucketed_no_worse")))
    // util exact: bucket 2 → 5/8
    assert(out(2L).getAs[Double]("util") == 0.625)
  }

  test("mixturePlanV2: waterfill couples to priced supply — alloc ≤ effective, effFloor exact, slices hold") {
    val C = graft.operators.Curation
    // effFloor is the exact integer floor of the dyadic price: compare
    // against the double formula over a grid that exercises every
    // e_full arm including the cap and the fractional final epoch
    def effD(u: Long, req: Long, maxE: Int): Double =
      if (u == 0) 0.0
      else {
        val eF = math.min(maxE.toLong, req / u).toInt
        val partial = if (eF >= maxE) 0L else req - eF * u
        u.toDouble * (2.0 - math.pow(2.0, 1 - eF)) +
          partial.toDouble * math.pow(2.0, -eF)
      }
    for (u <- Seq(0L, 1L, 7L, 10L, 1000L); req <- Seq(0L, 3L, 10L, 25L, 47L, 5000L))
      assert(C.effFloor(u, req, 4) == math.floor(effD(u, req, 4)).toLong,
        s"effFloor($u, $req)")
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { _ =>
      val srcs = rnd.shuffle(C.Sources).take(2 + rnd.nextInt(4))
      val docs = (0L until (10L + rnd.nextInt(30))).map { i =>
        val words = (0 to 3 + rnd.nextInt(12)).map(_ => s"w${rnd.nextInt(20)}")
          .mkString(" ")
        (i, words, srcs((i % srcs.length).toInt))
      }.toDF("doc_id", "text", "source")
      val out = C.mixturePlanV2(spark, docs).collect()
      assert(out.nonEmpty && out.length == srcs.length)
      out.foreach { r =>
        assert(r.getAs[Boolean]("weights_sum_ok"))
        assert(r.getAs[Boolean]("priced_within_request"))
        assert(r.getAs[Boolean]("alloc_within_effective"))
        assert(r.getAs[Boolean]("alloc_within_budget"))
        // the COUPLING, row-level: supply is the priced floor and the
        // allocation never exceeds what pricing says the tokens are worth
        assert(r.getAs[Long]("supply_tokens") ==
          math.floor(r.getAs[Double]("effective_tokens")).toLong)
        assert(r.getAs[Long]("alloc_tokens") <= r.getAs[Long]("supply_tokens"))
        assert(r.getAs[Long]("alloc_tokens").toDouble <=
          r.getAs[Double]("effective_tokens"))
      }
      // the budget is spent in VALUE units: Σalloc within 90% of Σsupply
      val totAlloc = out.map(_.getAs[Long]("alloc_tokens")).sum
      val totSupply = out.map(_.getAs[Long]("supply_tokens")).sum
      assert(totAlloc * 100 <= totSupply * 90)
    }
  }

  test("repeatEpochs: dedup counts uniques, epochs from the request, dyadic pricing, cap binds") {
    val C = graft.operators.Curation
    // source a: two distinct 5-token texts, one duplicated (U=10, tot=15);
    // source b: one 10-token text (U=10, tot=10)
    val docs = Seq(
      (0L, "a b c d e", "a"), (1L, "f g h i j", "a"), (2L, "a b c d e", "a"),
      (3L, "k l m n o p q r s t", "b"))
      .toDF("doc_id", "text", "source")
    val out = C.repeatEpochs(docs, Map("a" -> 1L, "b" -> 3L), budgetPct = 200)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    // B = floor(20·200/100) = 40; requests 10 / 30 (exact integer floors)
    assert(out("a").getAs[Long]("unique_tokens") == 10L &&
      out("a").getAs[Long]("total_tokens") == 15L)
    assert(out("a").getAs[Long]("request_tokens") == 10L &&
      out("a").getAs[Int]("epochs") == 1 &&
      out("a").getAs[Double]("effective_tokens") == 10.0 &&
      out("a").getAs[Double]("utilization") == 1.0)
    // b: ceil(30/10) = 3 epochs, m(3) = 1.75 exactly (dyadic)
    assert(out("b").getAs[Long]("request_tokens") == 30L &&
      out("b").getAs[Int]("epochs") == 3 &&
      out("b").getAs[Double]("effective_tokens") == 17.5 &&
      out("b").getAs[Double]("utilization") == 0.583333)
    // the 4-epoch cap binds under a 10x budget
    val capped = C.repeatEpochs(docs, Map("a" -> 1L, "b" -> 3L), budgetPct = 1000)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(capped("b").getAs[Int]("epochs") == 4 &&
      capped("b").getAs[Double]("effective_tokens") == 18.75)
    // fractional final epoch: B = 50, requests 12 / 37. a funds 1 full
    // epoch + 2 tokens of epoch 2 at marginal 1/2 ⇒ 11.0; b funds 3 full
    // epochs + 7 tokens of epoch 4 at marginal 1/8 ⇒ 18.375. Both ≤ 1
    // utilization — the request never pays for unfunded tokens.
    val frac = C.repeatEpochs(docs, Map("a" -> 1L, "b" -> 3L), budgetPct = 250)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(frac("a").getAs[Long]("request_tokens") == 12L &&
      frac("a").getAs[Int]("epochs") == 2 &&
      frac("a").getAs[Double]("effective_tokens") == 11.0 &&
      frac("a").getAs[Double]("utilization") == 0.916667)
    assert(frac("b").getAs[Long]("request_tokens") == 37L &&
      frac("b").getAs[Int]("epochs") == 4 &&
      frac("b").getAs[Double]("effective_tokens") == 18.375 &&
      frac("b").getAs[Double]("utilization") == 0.496622)
  }

  test("qualityKeptRaw is row-identical to qualityScoreRaw ⋈ curationAuditRaw (fused = joined)") {
    import graft.operators.Curation
    import graft.sources.Tables
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val fused = Curation.qualityKeptRaw(docs)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[Double]("quality"), r.getAs[Boolean]("kept")))
    val joined = Curation.qualityScoreRaw(docs).select($"doc_id", $"quality")
      .join(Curation.curationAuditRaw(docs)
        .select($"doc_id", ($"reason" === "kept").as("kept")), "doc_id")
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[Double]("quality"), r.getAs[Boolean]("kept")))
    assert(fused.nonEmpty && fused.toSeq == joined.toSeq)
    // degenerate rows exercise every gate arm of the fused conjunction
    val edge = Seq(
      (1L, "the cat is in the hat and the dog sat on the mat with a bat near the rat and a hat"),
      (2L, "zz zz"), // too short AND not-English
      (3L, ("the quick brown fox " * 10).trim), // repetitive bigrams
      (4L, null: String), // documents.text is nullable
      (5L, ""))
      .toDF("doc_id", "text")
    // null-aware: a NULL verdict must not read as false
    val f2 = Curation.qualityKeptRaw(edge).orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), Option(r.getAs[java.lang.Boolean]("kept"))))
    val j2 = Curation.qualityScoreRaw(edge).select($"doc_id")
      .join(Curation.curationAuditRaw(edge)
        .select($"doc_id", ($"reason" === "kept").as("kept")), "doc_id")
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), Option(r.getAs[java.lang.Boolean]("kept"))))
    assert(f2.toSeq == j2.toSeq, s"fused ${f2.mkString(",")} vs joined ${j2.mkString(",")}")
    assert(f2.toMap == Map(1L -> Some(true), 2L -> Some(false), 3L -> Some(false),
      4L -> Some(false), 5L -> Some(false)), f2.mkString(","))
  }
}
