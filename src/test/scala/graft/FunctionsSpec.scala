package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.functions.RollingHash.rollingHash
import graft.functions.VectorExpressions._

class FunctionsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** The interpreted HOF formulation of `Dedup.sortedShingleHashes` — same
    * equivalence classes (hash VALUES differ; set sizes and intersection
    * cardinalities match), the twin the native kernel is tested against. */
  private def sortedShingleHashesHof(text: org.apache.spark.sql.Column, n: Int) =
    array_sort(transform(array_distinct(wordShingles(tokens(text), n)), s => xxhash64(s)))

  // Mirror of the reference's revenue golden test (`workflow.py:326-332`):
  // qty=2, price=10.0, discount=1.0, stale total=0.0 → recomputed 19.0.
  // Our testdata carries the same rule as extendedprice*(1-discount).
  test("revenue golden value overrides stale input total") {
    val df = Seq((2.0, 10.0, 1.0, 0.0)).toDF("quantity", "price", "discount", "stale_total")
    val total = df.select(
      (dec2($"price" * $"quantity") - dec2($"discount")).cast("double").as("total"))
    assert(total.head.getDouble(0) == 19.0)

    val rev = Seq((20.0, 0.05)).toDF("l_extendedprice", "l_discount")
      .select(lineRevenueDec($"l_extendedprice", $"l_discount").cast("double"))
    assert(rev.head.getDouble(0) == 19.0)
  }

  test("isoDayOfWeek matches java.time for a full year") {
    val dates = spark.sql(
      "SELECT explode(sequence(date'2023-01-01', date'2023-12-31', interval 1 day)) AS d")
    val got = dates.select($"d", isoDayOfWeek($"d").as("dow")).collect()
    got.foreach { r =>
      val expected = r.getDate(0).toLocalDate.getDayOfWeek.getValue // 1=Mon..7=Sun
      assert(r.getInt(1) == expected, s"mismatch for ${r.getDate(0)}")
    }
  }

  test("wordShingles produces n-grams and degenerates gracefully") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(wordShingles(tokens($"text"), 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("a b c", "b c d"))
    assert(rows(1) == Seq("a b")) // shorter than n → whole text
  }

  test("rollingHash: known value, and codegen agrees with interpreted eval") {
    // h("ab") = (0*31 + 97)*31 + 98 = 3105
    val got = Seq("ab").toDF("t").select(rollingHash($"t")).head.getLong(0)
    assert(got == 3105L)
    // force interpreted path
    val interp = RollingHash(org.apache.spark.sql.catalyst.expressions.Literal("ab")).eval(null)
    assert(interp == 3105L)
  }

  test("DoubleBitsBucket: order-preserving, codegen = interpreted, adjacent zeros") {
    import graft.functions.{BitGrid, DoubleBitsBucket}
    // a sign-spanning, magnitude-spanning, denormal-including value ladder
    val vs = Seq(Double.MinValue, -1.7e308, -2.5e4, -2.0, -1.0, -1e-300,
      -java.lang.Double.MIN_VALUE, -0.0, 0.0, java.lang.Double.MIN_VALUE,
      1e-300, 0.5, 1.0, 1.0000001, 2.0, 3.14, 2.5e4, 1.7e308, Double.MaxValue)
    // bucket ids must be monotone non-decreasing in value order, at EVERY shift
    for (shift <- Seq(0, 30, 46, 52)) {
      val ids = vs.toDF("v").select(BitGrid.bitBucket($"v", shift).as("b"))
        .collect().map(_.getLong(0))
      assert(ids.zip(ids.tail).forall { case (a, b) => a <= b },
        s"non-monotone at shift=$shift: ${ids.mkString(",")}")
      // interpreted eval agrees with the codegen (DataFrame) path
      val interp = vs.map(v => DoubleBitsBucket(
        org.apache.spark.sql.catalyst.expressions.Literal(v), shift).eval(null))
      assert(interp == ids.toSeq, s"codegen/interpreted split at shift=$shift")
    }
    // shift 0 is a total order: strictly increasing on distinct values
    val full = vs.toDF("v").select(BitGrid.bitBucket($"v", 0).as("b"))
      .collect().map(_.getLong(0))
    assert(full.zip(full.tail).forall { case (a, b) => a < b })
    // rows of a lower bucket sort strictly below every row of a higher one
    // (the property Robust's rank brackets and winsorized split rely on)
    val r = new scala.util.Random(7)
    val rnd = Seq.fill(2000)(math.exp(r.nextGaussian() * 8) *
      (if (r.nextBoolean()) 1 else -1))
    val byBucket = rnd.groupBy(v => {
      val b = java.lang.Double.doubleToLongBits(v)
      (b ^ ((b >> 63) & 0x7fffffffffffffffL)) >> BitGrid.DefaultShift
    })
    val ordered = byBucket.toSeq.sortBy(_._1)
    ordered.zip(ordered.tail).foreach { case ((_, lo), (_, hi)) =>
      assert(lo.max < hi.min, "bucket value ranges overlap")
    }
  }

  test("ShingleHashes: same set structure as the HOF string-shingle twin") {
    // Equivalence classes must match the interpreted string-based twin:
    // same set SIZES per doc and same pairwise INTERSECTION sizes (hash
    // values differ by design). Repeats inside a doc must collapse.
    val docs = Seq(
      (0L, "a b c d e a b c d e"),      // repeated window → dup shingles collapse
      (1L, "a b c d e f"),              // overlaps doc 0
      (2L, "x y"),                      // shorter than n → ONE whole-doc shingle
      (3L, "x y"),                      // identical short doc → same single hash
      (4L, "q")).toDF("doc_id", "text")
    val both = docs.select(
      $"doc_id",
      graft.operators.Dedup.sortedShingleHashes($"text", 3).as("nat"),
      sortedShingleHashesHof($"text", 3).as("hof"))
    val rows = both.orderBy($"doc_id").collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1).size == r.getSeq[Long](2).size,
        s"doc ${r.getLong(0)}: native/HOF set sizes differ")
    }
    val nat = rows.map(r => r.getSeq[Long](1).toSet)
    val hof = rows.map(r => r.getSeq[Long](2).toSet)
    for (i <- nat.indices; j <- nat.indices if i < j) {
      assert((nat(i) & nat(j)).size == (hof(i) & hof(j)).size,
        s"pair ($i,$j): intersection cardinality differs")
    }
    // sorted + distinct invariant
    rows.foreach { r =>
      val s = r.getSeq[Long](1)
      assert(s == s.sorted && s.distinct == s)
    }
    // interpreted eval agrees with the codegen path
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val toks = new GenericArrayData(
      Array("a", "b", "c", "d").map(t => UTF8String.fromString(t): Any))
    val interp = graft.functions.ShingleHashes(
      Literal.create(toks, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)), 3)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    val viaDf = Seq("a b c d").toDF("text")
      .select(graft.operators.Dedup.sortedShingleHashes($"text", 3)).head.getSeq[Long](0)
    assert(interp.toSeq == viaDf)
  }

  test("WinnowHashes: min-of-window over ShingleHashes grams, sorted distinct; codegen = interpreted") {
    // Spec twin: positional gram hashes via the same chained-XXH64 the
    // kernel uses (reconstructed with ShingleHashes semantics per
    // sub-array), sliding min of w consecutive grams, dedup+sort.
    import org.apache.spark.sql.catalyst.expressions.{Literal, XXH64}
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val words = "a b c a b c d e f a b".split(" ")
    val (k, w) = (3, 2)
    def gramHash(ts: Seq[String]): Long =
      ts.foldLeft(42L)((h, t) => XXH64.hashLong(XXH64.hashUTF8String(UTF8String.fromString(t), 42L), h))
    val grams = words.sliding(k).map(g => gramHash(g.toSeq)).toArray
    val expected = grams.sliding(w).map(_.min).toArray.distinct.sorted.toSeq
    val toks = new GenericArrayData(words.map(t => UTF8String.fromString(t): Any))
    val interp = graft.functions.WinnowHashes(
      Literal.create(toks, ArrayType(StringType)), k, w)
      .eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
    assert(interp == expected)
    // codegen path (through a DataFrame projection) agrees bit-for-bit
    val viaDf = Seq(words.mkString(" ")).toDF("text")
      .select(graft.functions.VectorExpressions.winnowHashes(
        split($"text", " "), k, w)).head.getSeq[Long](0)
    assert(viaDf == expected)
    // short input degrades to one window over all grams
    val short = Seq("a b").toDF("text")
      .select(graft.functions.VectorExpressions.winnowHashes(split($"text", " "), 3, 2))
      .head.getSeq[Long](0)
    assert(short.length == 1)
  }

  test("VectorDot matches manual dot product for float and double arrays") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    assert(df.select(vectorDot($"a", $"b")).head.getDouble(0) == 32.0)
    val dd = Seq((Array(0.5, 0.25), Array(4.0, 8.0))).toDF("a", "b")
    assert(dd.select(vectorDot($"a", $"b")).head.getDouble(0) == 4.0)
  }

  test("cosineSimilarity of identical vectors is 1") {
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    val c = df.select(cosineSimilarity($"a", $"b")).head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("SortedIntersectSize: string and long arrays, empty edge") {
    val s = Seq((Seq("a", "b", "d"), Seq("b", "c", "d"))).toDF("a", "b")
    assert(s.select(sortedIntersectSize($"a", $"b")).head.getInt(0) == 2)
    val l = Seq((Seq(1L, 5L, 9L), Seq(2L, 5L, 9L, 11L))).toDF("a", "b")
    assert(l.select(sortedIntersectSize($"a", $"b")).head.getInt(0) == 2)
    val e = Seq((Seq.empty[Long], Seq(1L))).toDF("a", "b")
    assert(e.select(sortedIntersectSize($"a", $"b")).head.getInt(0) == 0)
  }

  test("MinHashSig: deterministic, and band buckets are consistent with it") {
    val df = Seq(Seq(10L, 20L, 30L), Seq(10L, 20L, 30L), Seq(99L)).toDF("h")
    val sigs = df.select(minHashSig($"h", 8).as("sig")).collect().map(_.getSeq[Long](0))
    assert(sigs(0) == sigs(1)) // identical input → identical signature
    assert(sigs(0) != sigs(2))
    val buckets = df.select(minHashBandBuckets($"h", 2, 4).as("b")).collect().map(_.getSeq[Long](0))
    assert(buckets(0) == buckets(1) && buckets(0) != buckets(2))
    assert(buckets(0).length == 2)
  }

  test("MinHash signature agreement approximates Jaccard") {
    // two sets with Jaccard 0.8 (8 shared of 10); agreement over k=64 ≈ 0.8
    val a = (1L to 9L).toSeq
    val b = (2L to 11L).filterNot(_ == 11L).toSeq :+ 20L // 2..10 + 20 → shares 2..9
    val df = Seq(a, b).toDF("h")
    val Array(sa, sb) = df.select(minHashSig($"h", 64).as("s")).collect().map(_.getSeq[Long](0))
    val agree = sa.zip(sb).count { case (x, y) => x == y } / 64.0
    val jac = a.toSet.intersect(b.toSet).size.toDouble / a.toSet.union(b.toSet).size
    assert(math.abs(agree - jac) < 0.25) // k=64 → σ≈0.06, generous bound
  }

  test("simHash: identical texts collide, near texts are close, hamming works") {
    val df = Seq("the quick brown fox jumps", "the quick brown fox jumps", "totally different words here")
      .toDF("text").select(simHash64(tokens($"text")).as("s"))
    val s = df.collect().map(_.getLong(0))
    assert(s(0) == s(1))
    val dfh = Seq((s(0), s(2))).toDF("a", "b")
    assert(dfh.select(hamming64($"a", $"b").cast("long")).head.getLong(0) > 0)
  }

  test("topKBy matches the window row_number formulation, ties to smaller id") {
    import graft.functions.TopKBy.topKBy
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val rows = (1L to 500L).map(i => (i % 13, rnd.nextInt(40).toDouble, i))
    val df = rows.toDF("g", "score", "id")
    val agg = df.groupBy($"g").agg(topKBy($"score", $"id", 4).as("top"))
      .select($"g", posexplode($"top").as(Seq("pos", "t")))
      .select($"g", ($"pos" + 1).cast("int").as("rn"), $"t.score".as("score"), $"t.id".as("id"))
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
    val win = df.select($"g", $"score", $"id", row_number().over(w).as("rn"))
      .filter($"rn" <= 4).select($"g", $"rn", $"score", $"id")
    assert(agg.collect().map(_.toSeq).toSet == win.collect().map(_.toSeq).toSet)
    // fewer rows than k → all returned, still sorted best-first
    val small = Seq((1L, 5.0, 10L), (1L, 5.0, 2L)).toDF("g", "score", "id")
      .groupBy($"g").agg(topKBy($"score", $"id", 4).as("top"))
      .head.getSeq[org.apache.spark.sql.Row](1)
    assert(small.map(_.getLong(1)) == Seq(2L, 10L)) // tie keeps smaller id first
    // SQL registration path
    GraftFunctions.registerAll(spark)
    df.createOrReplaceTempView("topk_t")
    val viaSql = spark.sql("SELECT g, topk_by(score, id, 2) AS top FROM topk_t GROUP BY g")
    assert(viaSql.count() == 13)
  }

  test("native SQL functions reject wrong input types at analysis time") {
    GraftFunctions.registerAll(spark)
    Seq("a", "b").toDF("t").createOrReplaceTempView("typecheck_t")
    // each call hands a non-array (or wrong-element-type array) argument;
    // the failure must be an AnalysisException, not a runtime ClassCast
    val bad = Seq(
      "SELECT vector_dot(t, t) FROM typecheck_t",
      "SELECT vector_dot(array(1, 2), array(1, 2)) FROM typecheck_t", // int elements
      "SELECT sorted_intersect_size(t, t) FROM typecheck_t",
      "SELECT sorted_intersect_size(array(1.5), array('x')) FROM typecheck_t",
      "SELECT minhash_sig(t, 8) FROM typecheck_t",
      "SELECT minhash_band_buckets(array('x'), 2, 4) FROM typecheck_t")
    bad.foreach { q =>
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(q).collect())
      assert(e.getMessage != null, q)
    }
    // and the happy path still analyzes + runs
    val ok = spark.sql(
      "SELECT vector_dot(array(CAST(1.0 AS DOUBLE), 2.0), array(CAST(3.0 AS DOUBLE), 4.0)) AS d")
    assert(ok.head.getDouble(0) == 11.0)
  }

  test("hyperplaneSignature fails loudly on a dims mismatch") {
    import graft.operators.Similarity
    val df = Seq((1L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      df.select(Similarity.hyperplaneSignature($"embedding", planes = 4, dims = 64)).collect()
    }
    assert(e.getMessage.contains("64") || e.getCause != null)
  }

  test("charEntropy: 0 for a single repeated char, 1 bit for a 50/50 mix") {
    val got = Seq("aaaa", "ab", "aabb", "abcd")
      .toDF("text")
      .select(TextAnalysis.charEntropy($"text").as("e"))
      .collect().map(_.getDouble(0))
    assert(got(0) == 0.0)
    assert(got(1) == 1.0)
    assert(got(2) == 1.0)
    assert(got(3) == 2.0)
  }

  test("bm25Rank prefers more query-term hits and drops no-hit docs") {
    val docs = Seq(
      (0L, "spark spark join fast table"),
      (1L, "spark row scan value table"),
      (2L, "key hash sort window line")) // no query term at all
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25Rank(docs, Seq("spark", "join"), topK = 10).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1L)) // doc 2 excluded
    assert(got(0).getDouble(1) > got(1).getDouble(1))
  }

  test("bm25 length normalization: same tf scores lower in a longer doc") {
    val docs = Seq(
      (0L, "spark fast"),
      (1L, "spark " + Seq.fill(30)("pad").mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25Rank(docs, Seq("spark"), topK = 10)
      .orderBy($"doc_id").collect()
    assert(got(0).getDouble(1) > got(1).getDouble(1))
  }

  test("bigramLogProb: common-transition docs outscore rare-transition docs") {
    val docs = (Seq.tabulate(10)(i => (i.toLong, "a b a b a b")) ++
      Seq((10L, "a b a b"), (11L, "b b b a a"))) // doc 11: rare transitions
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_logp")).toMap
    assert(got(10L) > got(11L))
  }

  test("ngramDiversity: template spam collapses distinct-n, varied prose keeps it high") {
    val docs = Seq(
      (1L, "spam", "buy now buy now buy now"), // 6 tokens, 2 types
      (2L, "spam", "buy now buy now"),
      (3L, "rich", "the quick brown fox jumps over"), // all distinct
      (4L, "rich", "a lazy dog sleeps all day"))
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.ngramDiversity(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    // spam: 10 tokens, 2 types; bigrams 5+3=8 total, 2 distinct
    // ("buy now", "now buy" — pooled per source across docs)
    assert(got("spam").getAs[Long]("n_tokens") == 10L)
    assert(got("spam").getAs[Long]("n_types") == 2L)
    assert(got("spam").getAs[Double]("ttr") == 0.2)
    assert(got("spam").getAs[Double]("distinct_2_ratio") == 0.25) // 2 distinct / 8
    // rich: every token and every n-gram unique → all ratios exactly 1
    assert(got("rich").getAs[Double]("ttr") == 1.0)
    assert(got("rich").getAs[Double]("distinct_2_ratio") == 1.0)
    assert(got("rich").getAs[Double]("distinct_3_ratio") == 1.0)
  }

  test("invertedIndex: df counts distinct docs, postings capped ascending") {
    val docs = Seq(
      (3L, "x y x"), (1L, "x z"), (2L, "x"), (4L, "x"), (5L, "x"), (6L, "x"), (7L, "x"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.invertedIndex(docs, minDf = 2, cap = 3).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("df"), r.getAs[String]("postings")))
    assert(got.toSeq == Seq(("x", 7L, "1,2,3"))) // y,z below minDf; postings capped+sorted
  }

  test("cosinePairs generator: bit-parity with the self-join twin, a<b order, degenerate groups") {
    val rnd = new scala.util.Random(11)
    val emb = Seq.tabulate(60) { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat).toSeq, i % 3)
    }.toDF("vec_id", "embedding", "g")
    val base = emb.select($"g", $"vec_id", $"embedding",
      graft.functions.l2Norm($"embedding").as("nrm"))
    // generator path: group per g, enumerate in-group pairs (cutoff -1 = all)
    val gen = base.groupBy($"g")
      .agg(collect_list(struct($"vec_id", $"embedding", $"nrm")).as("m"))
      .select(graft.functions.PairGenerators.cosinePairs($"m", -1.0)
        .as(Seq("vec_a", "vec_b", "cosine")))
    // join twin: same pairs through the native VectorDot column kernel
    val twin = base.alias("a").join(base.alias("b"),
        $"a.g" === $"b.g" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        (graft.functions.dotProduct($"a.embedding", $"b.embedding")
          / ($"a.nrm" * $"b.nrm")).as("cosine"))
    val g = gen.orderBy($"vec_a", $"vec_b").collect()
    val t = twin.orderBy($"vec_a", $"vec_b").collect()
    assert(g.length == t.length && g.length == 3 * 20 * 19 / 2)
    g.zip(t).foreach { case (x, y) =>
      assert(x.getLong(0) == y.getLong(0) && x.getLong(1) == y.getLong(1))
      assert(x.getLong(0) < x.getLong(1))
      // bit-identical doubles: same left-to-right accumulation order
      assert(x.getDouble(2) == y.getDouble(2), s"$x vs $y")
    }
    // cutoff filters inside the generator
    val cut = base.groupBy($"g")
      .agg(collect_list(struct($"vec_id", $"embedding", $"nrm")).as("m"))
      .select(graft.functions.PairGenerators.cosinePairs($"m", 0.4)
        .as(Seq("vec_a", "vec_b", "cosine")))
    cut.collect().foreach(r => assert(r.getDouble(2) >= 0.4))
    // degenerate groups: empty and singleton arrays emit nothing
    val deg = Seq(Tuple1(Seq.empty[(Long, Seq[Float], Double)]))
      .toDF("m")
      .select(graft.functions.PairGenerators.cosinePairs(
        $"m".cast("array<struct<id:bigint,vec:array<float>,nrm:double>>"), -1.0)
        .as(Seq("vec_a", "vec_b", "cosine")))
    assert(deg.count() == 0)
    // wrong input type fails at analysis, not execution
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq("x").toDF("t")
        .select(graft.functions.PairGenerators.cosinePairs($"t", 0.0)).collect()
    }
    assert(e.getMessage.contains("cosine_pairs"))
  }

  test("generator kernels work from spark.sql (registered table functions)") {
    GraftFunctions.registerAll(spark)
    Seq((0L, Seq(1.0f, 0.0f), 1.0), (1L, Seq(1.0f, 0.0f), 1.0), (2L, Seq(0.0f, 1.0f), 1.0))
      .toDF("id", "vec", "nrm").createOrReplaceTempView("cp_t")
    val got = spark.sql(
      """SELECT p.* FROM (SELECT collect_list(struct(id, vec, nrm)) AS m FROM cp_t)
        |LATERAL VIEW cosine_pairs(m, 0.9) p AS vec_a, vec_b, cosine""".stripMargin).collect()
    assert(got.length == 1 && got(0).getLong(0) == 0L && got(0).getLong(1) == 1L)
    assert(math.abs(got(0).getDouble(2) - 1.0) < 1e-9)
  }

  test("canonicalizeUrl: RFC 3986 + crawl-pipeline normalizations") {
    import graft.functions.UrlOps._
    val cases = Seq(
      // case-fold scheme/host, drop userinfo+www+default port+fragment,
      // strip trailing slash, drop utm_*, sort surviving params
      ("HtTpS://User:Pw@WWW.Example.COM:443/a/b/?utm_source=x&z=9&a=1#frag",
        "https://example.com/a/b?a=1&z=9"),
      // non-default port kept; root path collapses to empty
      ("http://example.com:8080/", "http://example.com:8080"),
      // http:80 is the default and is stripped; path case preserved
      ("http://EXAMPLE.com:80/Path//", "http://example.com/Path"),
      // https:80 is NOT the default → kept
      ("https://example.com:80/x", "https://example.com:80/x"),
      // click-id tracking params dropped even when the query empties out
      ("https://sub.domain.co.uk/x?fbclid=abc", "https://sub.domain.co.uk/x"))
    val got = cases.map(_._1).toDF("url")
      .select(canonicalizeUrl($"url").as("c")).as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, want) => assert(g == want) }
  }

  test("registeredDomain: two labels, three over multi-label suffixes") {
    import graft.functions.UrlOps._
    val got = Seq("a.b.example.co.uk", "news.example.com", "localhost", "x.com")
      .toDF("h").select(registeredDomain($"h")).as[String].collect()
    assert(got.sameElements(Array("example.co.uk", "example.com", "localhost", "x.com")))
  }

  test("cleanQuery sorts duplicates stably and keeps '?' in values") {
    import graft.functions.UrlOps._
    val got = Seq("http://h/p?b=2&a=1&a=0&utm_campaign=z&ref=t")
      .toDF("u").select(cleanQuery($"u")).as[String].collect()
    assert(got(0) == "a=0&a=1&b=2")
  }

  test("KLL sketch: exact below k, merge lossless, bounds hold when compacted") {
    import graft.functions.Kll._
    // n=100 < k=200: the sketch retains everything — quantiles are EXACT
    val small = spark.range(1, 101).select($"id".cast("double").as("v"))
    val smallRow = small.agg(kllSketchAgg($"v").as("sk"))
      .select(kllN($"sk"), kllQuantile($"sk", lit(0.5)), kllQuantile($"sk", lit(0.9)))
      .head()
    assert(smallRow.getLong(0) == 100L)
    assert(smallRow.getDouble(1) == 50.0)
    assert(smallRow.getDouble(2) == 90.0)

    // n=20000 in 8 striped parts, merged: getN exact (lossless merge) and
    // quantile estimates within 3× the k=200 normalized rank error of the
    // known uniform distribution
    val big = spark.range(0, 20000)
      .select(($"id" % 8).as("part"), $"id".cast("double").as("v"))
    val merged = big.groupBy($"part").agg(kllSketchAgg($"v").as("sk"))
      .agg(kllMergeAgg($"sk").as("sk"))
      .select(kllN($"sk"), kllQuantile($"sk", lit(0.5)), kllQuantile($"sk", lit(0.9)))
      .head()
    assert(merged.getLong(0) == 20000L)
    assert(math.abs(merged.getDouble(1) / 20000.0 - 0.5) < 0.05)
    assert(math.abs(merged.getDouble(2) / 20000.0 - 0.9) < 0.05)
  }

  test("KLL SQL registration: implicit casts for int input and decimal rank") {
    GraftFunctions.registerAll(spark)
    // v stays BIGINT and the rank literal parses as DECIMAL(1,1): both
    // coerce to double via ImplicitCastInputTypes instead of failing
    spark.range(1, 1001).select($"id".as("v")).createOrReplaceTempView("kll_t")
    val r = spark.sql(
      "SELECT kll_n(sk) AS n, kll_quantile(sk, 0.5) AS p50 " +
        "FROM (SELECT kll_sketch_agg(v) AS sk FROM kll_t)").head()
    assert(r.getLong(0) == 1000L)
    assert(math.abs(r.getDouble(1) - 500.0) <= 50.0)
  }

  test("theta/freq SQL registration: int key columns coerce implicitly") {
    GraftFunctions.registerAll(spark)
    // an INT key column: theta widens it to long, freq casts it to string —
    // both via ImplicitCastInputTypes, no explicit cast in the SQL
    spark.range(0, 1000).select(($"id" % 10).cast("int").as("v"))
      .createOrReplaceTempView("sk_int_t")
    val r = spark.sql(
      "SELECT theta_estimate(theta_sketch_agg(v)) AS est, " +
        "freq_n(freq_sketch_agg(v)) AS fn " +
        "FROM sk_int_t").head()
    assert(r.getDouble(0) == 10.0) // exact mode: 10 distinct keys
    assert(r.getLong(1) == 1000L)
    // ints widen to LONG (not string): the sketch must hash-match a
    // sketch built from the same values as bigint, not as text
    val asLong = spark.sql(
      "SELECT theta_estimate(theta_intersect(theta_sketch_agg(v), " +
        "(SELECT theta_sketch_agg(CAST(v AS BIGINT)) FROM sk_int_t))) AS est " +
        "FROM sk_int_t").head()
    assert(asLong.getDouble(0) == 10.0) // full overlap ⇒ same hash identity
  }

  test("theta sketch: exact-mode set algebra equals true set operations") {
    import graft.functions.Theta._
    // A = {0..999}, B = {500..1499}: |A∩B| = 500, |A\B| = 500, |A∪B| = 1500
    val a = spark.range(0, 1000).select(concat(lit("v"), $"id").as("v"))
      .agg(thetaSketchAgg($"v", 4096).as("sk"))
    val b = spark.range(500, 1500).select(concat(lit("v"), $"id").as("v"))
      .agg(thetaSketchAgg($"v", 4096).as("sk"))
    val joined = a.crossJoin(b.withColumnRenamed("sk", "sk_b"))
    val row = joined
      .select(
        thetaEstimate(thetaIntersect($"sk", $"sk_b")),
        thetaEstimate(thetaANotB($"sk", $"sk_b")))
      .head()
    // n < k: exact mode, estimates are exact counts
    assert(row.getDouble(0) == 500.0)
    assert(row.getDouble(1) == 500.0)
    val union = joined
      .select(explode(array($"sk", $"sk_b")).as("sk"))
      .agg(thetaEstimate(thetaUnionAgg($"sk")))
      .head().getDouble(0)
    assert(union == 1500.0)
  }

  test("theta union agg merges partial sketches losslessly in exact mode") {
    import graft.functions.Theta._
    val parts = spark.range(0, 2000)
      .select(($"id" % 8).as("p"), concat(lit("v"), $"id").as("v"))
      .groupBy($"p").agg(thetaSketchAgg($"v", 4096).as("sk"))
    val est = parts.agg(thetaEstimate(thetaUnionAgg($"sk")).as("e")).head().getDouble(0)
    assert(est == 2000.0)
  }

  test("freq sketch: exact mode is lossless through merges") {
    import graft.functions.Freq._
    // vocab 51 ("hot" + t0..t49) < 0.75·128 map capacity: no purge ever
    // happens, so every count is exact and the bounds collapse
    val terms = spark.range(0, 1000).select(($"id" % 4).as("p"),
      when($"id" < 500, "hot").otherwise(concat(lit("t"), $"id" % 50)).as("t"))
    val row = terms.groupBy($"p").agg(freqSketchAgg($"t", 128).as("sk"))
      .agg(freqMergeAgg($"sk", 128).as("sk"))
      .select(freqN($"sk"), freqMaxError($"sk"), freqItems($"sk"))
      .head()
    assert(row.getLong(0) == 1000L) // exact stream length through merges
    assert(row.getLong(1) == 0L)    // exact mode: zero error
    val items = row.getSeq[org.apache.spark.sql.Row](2)
    assert(items.size == 51)
    assert(items.head.getString(0) == "hot" && items.head.getLong(1) == 500L)
    // exact mode: est == lb == ub for every retained item
    assert(items.forall(r => r.getLong(2) == r.getLong(1) && r.getLong(3) == r.getLong(1)))
  }

  test("freq sketch: estimation mode keeps the NO_FALSE_NEGATIVES guarantee") {
    import graft.functions.Freq._
    // maxMapSize=8 over a 101-term vocab: purges must happen (maxError>0),
    // but the a-priori cap maxError ≤ 3.5·n/8 = 437 and heavy-hitter
    // recall (800 > 437 → "hot" MUST be returned, bounds bracketing the
    // true count) are library guarantees that survive the 4-way merge.
    val terms = spark.range(0, 1000).select(($"id" % 4).as("p"),
      when($"id" < 800, "hot").otherwise(concat(lit("t"), $"id" % 100)).as("t"))
    val row = terms.groupBy($"p").agg(freqSketchAgg($"t", 8).as("sk"))
      .agg(freqMergeAgg($"sk", 8).as("sk"))
      .select(freqN($"sk"), freqMaxError($"sk"), freqItems($"sk"))
      .head()
    assert(row.getLong(0) == 1000L)
    assert(row.getLong(1) > 0L && row.getLong(1) <= 437L)
    val items = row.getSeq[org.apache.spark.sql.Row](2)
    val hot = items.find(_.getString(0) == "hot")
    assert(hot.isDefined)
    assert(hot.get.getLong(2) <= 800L && 800L <= hot.get.getLong(3))
  }

  test("freq sketch: empty and all-null inputs yield a zero sketch that merges losslessly") {
    import graft.functions.Freq._
    val nulls = Seq[Option[String]](None, None).toDF("t")
    val z = nulls.agg(freqSketchAgg($"t", 64).as("sk"))
      .select(freqN($"sk"), freqMaxError($"sk"), size(freqItems($"sk")))
      .head()
    assert(z.getLong(0) == 0L && z.getLong(1) == 0L && z.getInt(2) == 0)
    // zero sketches merge as identity
    val mixed = Seq((0, Option.empty[String]), (1, Some("x")), (1, Some("x")), (1, Some("y")))
      .toDF("p", "t")
    val m = mixed.groupBy($"p").agg(freqSketchAgg($"t", 64).as("sk"))
      .agg(freqMergeAgg($"sk", 64).as("sk"))
      .select(freqN($"sk"), freqItems($"sk"))
      .head()
    assert(m.getLong(0) == 3L)
    val items = m.getSeq[org.apache.spark.sql.Row](1)
    assert(items.map(r => r.getString(0) -> r.getLong(1)).toMap == Map("x" -> 2L, "y" -> 1L))
  }

  test("freq SQL registration and null-sketch propagation") {
    GraftFunctions.registerAll(spark)
    spark.range(0, 100).select(($"id" % 5).cast("string").as("t"))
      .createOrReplaceTempView("freq_t")
    val r = spark.sql(
      "SELECT freq_n(sk) AS n, freq_max_error(sk) AS err, size(freq_items(sk)) AS k " +
        "FROM (SELECT freq_sketch_agg(t, 64) AS sk FROM freq_t)").head()
    assert(r.getLong(0) == 100L && r.getLong(1) == 0L && r.getInt(2) == 5)
    // a null sketch (the outer-join shape) propagates null instead of NPE-ing
    val nulls = spark.sql(
      "SELECT freq_n(CAST(NULL AS BINARY)) AS n, " +
        "freq_max_error(CAST(NULL AS BINARY)) AS e, " +
        "freq_items(CAST(NULL AS BINARY)) AS i, " +
        "theta_estimate(CAST(NULL AS BINARY)) AS t, " +
        "kll_n(CAST(NULL AS BINARY)) AS kn").head()
    (0 until 5).foreach(i => assert(nulls.isNullAt(i)))
  }

  test("pmiBigrams: hand-computed PMI, minCount suppresses hapax pairs") {
    // tokens: p=3 q=3 z=2 (TU=8); bigrams: "p q"x2 "z p" "q z" (TB=4)
    // PMI(p q) = ln(2*8*8 / (4*3*3)) = ln(32/9)
    val docs = Seq((0L, "p q"), (1L, "p q"), (2L, "z p"), (3L, "q z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.pmiBigrams(docs, minCount = 2, topK = 5).collect()
    assert(got.length == 1) // hapax bigrams cut
    assert(got(0).getAs[String]("bigram") == "p q")
    assert(got(0).getAs[Long]("n_pair") == 2L)
    assert(math.abs(got(0).getAs[Double]("pmi") - math.log(32.0 / 9.0)) < 1e-6)
  }

  test("poissonWeightSums: bit-parity with the exploded Column hash chain, map-side mergeable") {
    import graft.operators.Bootstrap
    import graft.functions.PoissonWeightSums.poissonWeightSums
    val R = 16
    // keys across the overflow-interesting range; several buckets
    val df = (Seq(1L, 7L, 1000003L, Long.MaxValue, Long.MaxValue / 2654435761L) ++
        (100L to 160L)).zipWithIndex
      .map { case (k, i) => (k, (i % 4).toLong) }.toDF("k", "g")
    val agg = df.groupBy($"g")
      .agg(poissonWeightSums(Bootstrap.keyHash($"k"), R, Bootstrap.PoissonCutoffs).as("ws"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val exploded = df
      .select($"g", Bootstrap.keyHash($"k").as("h"),
        explode(sequence(lit(0), lit(R - 1))).as("j"))
      .select($"g", $"j",
        Bootstrap.poissonWeight(Bootstrap.replicateUniform($"h", $"j")).as("w"))
      .groupBy($"g", $"j").agg(sum($"w").as("c"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    for (g <- 0L to 3L; j <- 0 until R)
      assert(agg(g)(j) == exploded((g, j)), s"weight sum mismatch at g=$g j=$j")
    // weights are Poisson(1)-ish: mean total weight per group ~ group size
    val sizes = df.groupBy($"g").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (g <- 0L to 3L) {
      val mean = agg(g).map(_.toDouble).sum / R
      assert(math.abs(mean - sizes(g)) < sizes(g) * 0.6, s"mean weight $mean vs n=${sizes(g)}")
    }
  }
}
