package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.contract.{Contract, Query}
import graft.functions.VectorExpressions.vectorDot
import graft.sources.Tables
import graft.transform.Transforms

/** Plan-shape guarantees: the properties SCALE.md claims are asserted here
  * so a regression (lost pushdown, broadcast that stopped firing, top-k
  * degrading to a global sort) fails the build instead of surfacing as a
  * 100× slowdown on a cluster. */
class ScaleSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** All messages down an exception's cause chain (loud-guard asserts). */
  private def causeMsgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ causeMsgs(e.getCause))

  test("filters are pushed into the parquet scan") {
    val p = plan(Tables.lineitem(spark, sf).filter($"l_quantity" >= 25).select($"l_orderkey"))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,25.0)]"), p)
  }

  test("column pruning reaches the scan (ReadSchema is minimal)") {
    val p = plan(Tables.lineitem(spark, sf).select($"l_orderkey", $"l_quantity"))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  test("dimension joins broadcast; fact side is never shuffled for them") {
    val p = plan(Transforms.productSalesSummary(
      Tables.lineitem(spark, sf), Tables.orders(spark, sf), Tables.part(spark, sf)))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Tables.orders(spark, sf).orderBy($"o_totalprice".desc).limit(5))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("native kernels stay inside whole-stage codegen") {
    val df = Tables.embeddings(spark, sf)
      .select(vectorDot($"embedding", $"embedding").as("d"))
    // the "*(n)" prefix marks a WholeStageCodegen span in plan toString
    assert(plan(df).contains("*(1) Project") && plan(df).contains("vector_dot"), plan(df))
  }

  test("bucketed tables join without a shuffle") {
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")
    Tables.lineitem(spark, sf).write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_bucketed")
    Tables.orders(spark, sf).write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("o_bucketed")
    // disable auto-broadcast: at this test scale Spark would broadcast and
    // hide the property under test (bucketed co-location replacing shuffle)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderstatus").count()
      val p = plan(joined)
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("Bucketed: true"), p)
      assert(!p.contains("Exchange hashpartitioning(l_orderkey"), p)
      assert(!p.contains("Exchange hashpartitioning(o_orderkey"), p)
      assert(joined.count() > 0)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("SQL surface exposes the native kernels (runtime registration)") {
    graft.functions.GraftFunctions.registerAll(spark)
    assert(spark.sql("SELECT rolling_hash('ab') AS h").head.getLong(0) == 3105L)
    assert(spark.sql("SELECT vector_dot(array(1.0f, 2.0f), array(3.0f, 4.0f)) AS d")
      .head.getDouble(0) == 11.0)
    assert(spark.sql(
      "SELECT sorted_intersect_size(array('a','b','c'), array('b','c','d')) AS n")
      .head.getInt(0) == 2)
  }

  test("IVF ANN finds the true nearest neighbor for most queries") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 20)
    val brute = graft.operators.Similarity.bruteForceKnn(queries, emb, k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val index = graft.operators.IvfIndex.build(spark, emb, nLists = 8)
    val ivf = graft.operators.IvfIndex.search(spark, index, queries, k = 1, nProbe = 5)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val recall = brute.count { case (q, n) => ivf.get(q).contains(n) }.toDouble / brute.size
    // near-uniform random embeddings are IVF's worst case (no cluster
    // structure); with 5/8 cells probed recall@1 should still clear 0.6
    assert(recall >= 0.6, s"IVF recall@1 too low: $recall")
  }

  test("IVF recall rises with nProbe (the recall/cost dial)") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 20)
    val brute = graft.operators.Similarity.bruteForceKnn(queries, emb, k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val index = graft.operators.IvfIndex.build(spark, emb, nLists = 8)
    def recallAt(nProbe: Int): Double = {
      val got = graft.operators.IvfIndex.search(spark, index, queries, k = 1, nProbe = nProbe)
        .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
      brute.count { case (q, n) => got.get(q).contains(n) }.toDouble / brute.size
    }
    val r1 = recallAt(1)
    val r4 = recallAt(4)
    val r8 = recallAt(8)
    // probing every cell = exhaustive search = exact recall; fewer probes
    // trade recall for a proportional cut of the scan fan-out
    assert(r8 == 1.0, s"full probe must be exact, got $r8")
    assert(r1 <= r4 + 1e-9 && r4 <= r8 + 1e-9, s"recall not monotone: $r1 / $r4 / $r8")
  }

  test("grouped top-k aggregate plans as partial-merge agg, not a window sort") {
    val p = plan(SparkEntry.queries("q_topk_agg")(spark, sf))
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window"), p)
  }

  test("rolling DAU/WAU window is equi-join shaped: no nested-loop join") {
    // The trailing-7-day sketch merge must explode daily rows to their ≤7
    // target days and hash-join — a date-BETWEEN days×daily join plans as
    // BroadcastNestedLoopJoin (O(|days|·|rows|) and guard-rejected).
    val p = plan(SparkEntry.queries("q_dau_mau")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("gap detection is anti-join shaped: no Window operator in the plan") {
    val p = plan(SparkEntry.queries("q_gap_detect")(spark, sf))
    assert(!p.contains("Window"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("event-time RANGE frame pushes the user predicate into the scan") {
    val p = plan(SparkEntry.queries("q_window_range")(spark, sf))
    assert(p.contains("LessThan(user_id,40)"), p)
  }

  test("cartesian guard rejects large x large, allows bounded and keyed joins") {
    import graft.plans.CartesianGuard
    spark.conf.set(CartesianGuard.ConfKey, "1000")
    try {
      val big1 = spark.range(100000).toDF("a")
      val big2 = spark.range(100000).toDF("b")
      intercept[IllegalStateException] {
        CartesianGuard.check(spark)(big1.crossJoin(big2).queryExecution.analyzed)
      }
      // inner join with NO condition is the typo case — caught as soon as
      // anything consumes it (even count() wraps an Aggregate above)
      intercept[IllegalStateException] {
        CartesianGuard.check(spark)(big1.join(big2).select("a").queryExecution.analyzed)
      }
      // ...but the BARE root join of two sides SHARING a column name is
      // exempt: Dataset.join(usingColumns) analyzes exactly this phantom
      // shape internally (the using column exists on both sides) and
      // never runs it
      val big2a = spark.range(100000).toDF("a")
      CartesianGuard.check(spark)(big1.join(big2a).queryExecution.analyzed)
      // a bare root join with DISJOINT schemas cannot be the using-columns
      // phantom — caught even with no operator above it
      intercept[IllegalStateException] {
        CartesianGuard.check(spark)(big1.join(big2).queryExecution.analyzed)
      }
      // a condition with no equi-key conjunct is still a nested loop —
      // the O(n²) `a.id < b.id` twin shape is caught
      intercept[IllegalStateException] {
        CartesianGuard.check(spark)(
          big1.join(big2, $"a" < $"b").select("a").queryExecution.analyzed)
      }
      // a broadcast hint declares the bounded side → allowed
      CartesianGuard.check(spark)(
        broadcast(big1).join(big2, $"a" < $"b").select("a").queryExecution.analyzed)
      // an equality hidden under OR is NOT a usable key → still caught
      intercept[IllegalStateException] {
        CartesianGuard.check(spark)(
          big1.join(big2, $"a" === $"b" || $"a" < $"b").select("a")
            .queryExecution.analyzed)
      }
      // bounded side → legitimate scaffold/ANN shape, allowed
      val small = spark.range(10).toDF("b")
      CartesianGuard.check(spark)(big1.crossJoin(small).queryExecution.analyzed)
      // keyed join always passes
      CartesianGuard.check(spark)(
        big1.join(big2, $"a" === $"b").queryExecution.analyzed)
      // guard off (key unset) → anything analyzes
      spark.conf.unset(CartesianGuard.ConfKey)
      CartesianGuard.check(spark)(big1.crossJoin(big2).queryExecution.analyzed)
    } finally spark.conf.unset(CartesianGuard.ConfKey)
  }

  test("IVF cells partition-prune at rest (a probe reads nProbe/nLists of the data)") {
    val emb = Tables.embeddings(spark, sf)
    val index = graft.operators.IvfIndex.build(spark, emb, nLists = 4)
    val dir = Files.createTempDirectory("graft-ivf").toString
    index.assigned.write.mode("overwrite").partitionBy("cell_id").parquet(dir)
    val read = spark.read.parquet(dir).filter($"cell_id" === 1)
    val leaf = read.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("PartitionFilters") && leaf.contains("cell_id"), leaf)
    val expected = index.assigned.filter($"cell_id" === 1).count()
    assert(read.count() == expected)
  }

  test("batched ADC: query side is a joined table (map-side probes, equi-join, no driver collect), parity with driver path") {
    import graft.operators.Pq
    import graft.plans.CartesianGuard
    val emb = Tables.embeddings(spark, sf)
    val idx = Pq.buildIvfPq(spark, emb, dims = 64, nLists = 4, m = 8, ksub = 16)
    val q = emb.filter($"vec_id" < 8)
    val search = Pq.ivfPqSearchBatch(idx, q, k = 3, nProbe = 2)
    // plan shape: the query side plans itself map-side (generator in-plan,
    // nothing collected to a LocalRelation) and meets the codes in an
    // EQUI-join on cell_id — guard-armed analysis proves no nested loop
    spark.conf.set(CartesianGuard.ConfKey, "1000")
    try CartesianGuard.check(spark)(search.queryExecution.analyzed)
    finally spark.conf.unset(CartesianGuard.ConfKey)
    val p = plan(search)
    assert(p.contains("ivfpq_query_probes"), p)
    assert(p.contains("Join") && p.contains("cell_id"), p)
    assert(!search.queryExecution.analyzed.toString.contains("LocalRelation"), "query side was collected")
    // row-identical to the driver-planned path (same probes, same math)
    val drv = Pq.ivfPqSearch(idx, q, k = 3, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val bat = search.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(drv == bat)
  }

  test("IVF incremental add equals a rebuild under the same centroids") {
    import graft.operators.IvfIndex
    val emb = Tables.embeddings(spark, sf)
    val isNew = $"vec_id" % 5 === 0
    val idx0 = IvfIndex.build(spark, emb.filter(!isNew), nLists = 4)
    val idx = IvfIndex.addToIndex(idx0, emb.filter(isNew))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", $"cell_id").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    val inc = rows(idx.assigned)
    val reb = rows(IvfIndex.rebuildAssigned(emb, idx0))
    assert(inc == reb)
    assert(inc.size == emb.count()) // every vector assigned exactly once
    assert(idx.centroids.sameElements(idx0.centroids)) // model untouched
  }

  test("IVF-PQ incremental add equals a rebuild under the same model") {
    import graft.operators.Pq
    val emb = Tables.embeddings(spark, sf)
    val isNew = $"vec_id" % 5 === 0
    val idx0 = Pq.buildIvfPq(spark, emb.filter(!isNew), dims = 64, nLists = 4, m = 8, ksub = 16)
    val idx = Pq.addToIvfPq(idx0, emb.filter(isNew))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", $"cell_id", $"code", $"recon_nrm").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2), r.getDouble(3))).toSet
    val inc = rows(idx.encoded)
    val reb = rows(Pq.rebuildEncoded(emb, idx0))
    assert(inc == reb)
    assert(inc.size == emb.count())
    assert(idx.ivfCents.sameElements(idx0.ivfCents) && (idx.cb eq idx0.cb))
  }

  test("streaming ANN ingest: cell-appended batches equal a rebuild under the frozen model") {
    // the stream is the FAISS add path (assign + residual-encode, append
    // into cell partitions); parity with a whole-corpus re-encode is
    // asserted row-for-row (cell_id, code, recon_nrm) inside the run
    val row = graft.streaming.AnnIngest.runStreamAnnIngest(spark, sf).head()
    assert(row.getAs[Boolean]("appended_nonempty"))
    assert(row.getAs[Boolean]("parity_ok"))
    assert(row.getAs[Long]("n_vecs") == Tables.embeddings(spark, sf).count())
  }

  test("auto-k SemDeDup: the capacity rule moves with the corpus; selected-k table = fixed-k operator") {
    val cl = graft.operators.Clustering
    // boundary algebra: n = cap·k stays at k, n = cap·k + 1 moves up;
    // past the largest candidate's capacity the rule falls back to it
    assert(cl.selectK(256) == 2 && cl.selectK(257) == 4)
    assert(cl.selectK(512) == 4 && cl.selectK(513) == 8 && cl.selectK(9999) == 8)
    // two SFs pick DIFFERENT k from their REAL corpus counts — the
    // selector provably moves with the shipped data
    def nAt(dir: String): Long =
      cl.cleanVectors(Tables.embeddings(spark, dir)).count()
    val kSmall = cl.selectK(nAt(sf))
    val kBig = cl.selectK(nAt("/root/testdata/sf0.1"))
    assert(kSmall == 4 && kBig == 8)
    // and the auto-k query's table IS the fixed-k operator's at that k
    val a = graft.SparkEntry.queries("q_semdedup_auto_k")(spark, sf).collect()
    assert(a.nonEmpty && a.forall(_.getAs[Int]("selected_k") == kSmall))
    val fixed = cl.semDedup(
      cl.cleanVectors(Tables.embeddings(spark, sf)),
      cl.modelFor(spark, sf, k = kSmall)).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Int]("cluster"), r.getAs[Long]("n"), r.getAs[Long]("n_pruned"))
    assert(a.map(key).toSeq == fixed.map(key).toSeq)
  }

  test("auto-nLists IVF: the capacity rule moves with the corpus; buildAuto carries rule-sized cells") {
    import graft.operators.IvfIndex
    // boundary algebra: n = occ·nl stays at nl, n = occ·nl + 1 moves up;
    // past the largest candidate's capacity the rule falls back to it
    assert(IvfIndex.autoNLists(500) == 4 && IvfIndex.autoNLists(501) == 8)
    assert(IvfIndex.autoNLists(1000) == 8 && IvfIndex.autoNLists(1001) == 16)
    assert(IvfIndex.autoNLists(1000000) == 128)
    // two SFs pick DIFFERENT nLists from their REAL corpus counts — the
    // selector provably moves with the shipped data
    val nSmall = Tables.embeddings(spark, sf).count()
    val nBig = Tables.embeddings(spark, "/root/testdata/sf0.1").count()
    assert(IvfIndex.autoNLists(nSmall) == 4 && IvfIndex.autoNLists(nBig) == 16)
    // buildAuto's index is structurally the rule's: centroid count =
    // rule(n), and assignment ≡ a fixed build at the selected count
    val idx = IvfIndex.buildAuto(spark, Tables.embeddings(spark, sf))
    assert(idx.centroids.length == 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", $"cell_id").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    val fixed = IvfIndex.build(spark, Tables.embeddings(spark, sf), nLists = 4)
    assert(rows(idx.assigned) == rows(fixed.assigned))
  }

  test("auto-nProbe: the search rule moves with the tier and is non-exhaustive past the tiny SFs") {
    import graft.operators.IvfIndex
    // the candidate-tier values: 2·⌈√nLists⌉ capped at nLists
    assert(Seq(4, 8, 16, 32, 64, 128).map(IvfIndex.autoNProbe) ==
      Seq(4, 6, 8, 12, 16, 24))
    // exhaustive ONLY at the tiny tier; at the 10x tier (128 lists) the
    // rule probes 24/128 — recall floors there are real capacity
    // evidence, not the probe-everything limit
    assert(IvfIndex.autoNProbe(4) == 4)
    Seq(8, 16, 32, 64, 128).foreach(nl => assert(IvfIndex.autoNProbe(nl) < nl))
    // monotone in the tier, and sublinear: doubling nLists grows the
    // probe count by strictly less than 2x at every step past the cap
    val probes = Seq(8, 16, 32, 64, 128).map(IvfIndex.autoNProbe)
    probes.sliding(2).foreach { case Seq(a, b) => assert(a < b && b < 2 * a) }
    // the composed count→nLists→nProbe rule moves across the SHIPPED
    // corpora: sf0.001/sf0.01 (500 vectors → 4 lists → probe all 4) vs
    // sf0.1 (2000 → 16 lists → probe 8)
    val nSmall = Tables.embeddings(spark, sf).count()
    val nBig = Tables.embeddings(spark, "/root/testdata/sf0.1").count()
    assert(IvfIndex.autoNProbe(IvfIndex.autoNLists(nSmall)) == 4)
    assert(IvfIndex.autoNProbe(IvfIndex.autoNLists(nBig)) == 8)
  }

  test("autoBandBuckets: occupancy rule holds the legacy N at the verify SFs and re-tiers past them") {
    val D = graft.operators.Dedup
    // legacy floor at and below the shipped sizes: sf0.01 = 500 docs x
    // 16 bands = 8,000 rows, sf0.1 = 80,000 rows (the 5,000-occupancy
    // boundary exactly)
    assert(D.autoBandBuckets(8000L) == 16)
    assert(D.autoBandBuckets(80000L) == 16)
    // growth re-tiers: 10x the sf0.1 index → 160 partitions; ceil, not
    // floor; capped at 4096 so probe planning stays config-bounded
    assert(D.autoBandBuckets(80001L) == 17)
    assert(D.autoBandBuckets(800000L) == 160)
    assert(D.autoBandBuckets(1000000000L) == 4096)
    // the rule's N applied to the shipped corpora equals the legacy
    // layout, so gate behavior is unchanged where oracles run
    val n01 = Tables.documents(spark, sf).count()
    val n1 = Tables.documents(spark, "/root/testdata/sf0.1").count()
    assert(D.autoBandBuckets(n01 * 16) == 16 && D.autoBandBuckets(n1 * 16) == 16)
  }

  test("autoBandLayout: single-level below the 4096 cap, occupancy restored by sbb past it") {
    val D = graft.operators.Dedup
    // below the cap the layout IS autoBandBuckets with n2 = 1 — byte-
    // identical stores, gate behavior unchanged at every verify SF
    assert(D.autoBandLayout(8000L) == ((16, 1)))
    assert(D.autoBandLayout(800000L) == ((160, 1)))
    assert(D.autoBandLayout(4096L * 5000L) == ((4096, 1)))
    // past it, level one saturates and sbb carries the occupancy rule
    assert(D.autoBandLayout(4096L * 5000L + 1L) == ((4096, 2)))
    // invariant: occupancy restored up to the two-level capacity
    // (4096² × 5000 ≈ 8.4e10 rows)
    for (rows <- Seq(4096L * 5000L + 1L, 123456789L, 4096L * 4096L * 5000L)) {
      val (m1, m2) = D.autoBandLayout(rows)
      assert(rows <= m1.toLong * m2 * D.BandPartitionOccupancy, s"rows=$rows")
    }
    // past the two-level capacity both levels saturate (bounded file
    // counts beat 80 KB files at the 10^12 design point — see docstring)
    assert(D.autoBandLayout(1000000000000L) == ((4096, 4096)))
  }

  test("two-level band layout: (pbkt, sbb) decomposes the cell id; pbkt equals the single-level key") {
    import graft.operators.Dedup
    val (n1, n2) = (4, 3)
    val bad = Dedup.withBandLayout(
      Dedup.bandRows(Dedup.shingleSets(Tables.documents(spark, sf), n = 3)), n1, n2)
      .filter(Dedup.bandSubPartition(n1, n2) * lit(n1) + Dedup.bandPartition(n1)
        =!= Dedup.bandCell(n1, n2)
        || col("pbkt") =!= Dedup.bandPartition(n1)
        || col("sbb") < 0 || col("sbb") >= n2)
      .count()
    assert(bad == 0L)
  }

  test("two-level band index at rest: pair-pruned probe reads single-level-160-equivalent rows") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val accepted = Dedup.shingleSets(docs.filter($"doc_id" % 5 =!= 0), n = 3)
    val (n1, n2) = (4, 3) // forced two-level: stands in for past-cap scale
    val dir = Files.createTempDirectory("graft-bands2lvl").toString
    Dedup.withBandLayout(Dedup.bandRows(accepted), n1, n2)
      .write.mode("overwrite").partitionBy("pbkt", "sbb").parquet(dir)
    val atRest = spark.read.parquet(dir)
    val batch = Dedup.shingleSets(docs.filter($"doc_id" % 5 === 0), n = 3)
    val pairs = Dedup.minHashIncrementalPairs(batch, atRest, accepted,
      bandBuckets = n1, bandSubBuckets = n2)
    // the combined cell-id filter lands as a PARTITION filter over BOTH
    // directory levels — the scan reads the cells the batch hits, exactly
    // what a single-level layout at n1·n2 partitions would read
    val leaf = pairs.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(s => s.contains("sbb") && s.contains("PartitionFilters"))
      .getOrElse("")
    assert(leaf.contains("PartitionFilters") &&
      (leaf.contains("INSET") || leaf.contains(" IN (")), leaf)
    // pruning must not change the answer: same pairs as the flat index
    val flat = Dedup.minHashIncrementalPairs(batch,
      atRest.drop("pbkt", "sbb"), accepted)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pruned = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pruned == flat && pruned.nonEmpty)
    // exact equivalence of the two prune plans: rows kept by the pair
    // filter == rows kept filtering the same cells on a single-level
    // layout at n1·n2 (the decomposition is a bijection)
    val cells = Dedup.bandRows(batch).select(Dedup.bandCell(n1, n2).as("c"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val viaPair = atRest
      .filter(($"sbb" * n1 + $"pbkt").isin(cells: _*)).count()
    val viaFlat = Dedup.bandRows(accepted)
      .filter(Dedup.bandCell(n1, n2).isin(cells: _*)).count()
    assert(viaPair == viaFlat && viaPair > 0L)
    // a mismatched layout param fails loud instead of silently pruning
    // every sbb ≥ 1 row away (the hardened-guard posture)
    val ex = intercept[IllegalArgumentException] {
      Dedup.minHashIncrementalPairs(batch, atRest, accepted, bandBuckets = n1)
    }
    assert(ex.getMessage.contains("two-level"), ex.getMessage)
    // a WRONG bandBuckets (vs the store's written n1) reaches the
    // in-plan layout guard: surviving rows fail the partition-key
    // recomputation and raise instead of silently dropping pairs
    val ex2 = intercept[Exception] {
      Dedup.minHashIncrementalPairs(batch, atRest, accepted,
        bandBuckets = 8, bandSubBuckets = n2).collect()
    }
    assert(causeMsgs(ex2).exists(_.contains("layout mismatch")), ex2)
    // and a geometry whose n1 differs from the legacy default (the
    // past-cap shape: level one NOT 16) — pairs must still equal the
    // flat index when the caller passes the written layout
    val (m1, m2) = (8, 2)
    val dir2 = Files.createTempDirectory("graft-bands2lvl8").toString
    Dedup.withBandLayout(Dedup.bandRows(accepted), m1, m2)
      .write.mode("overwrite").partitionBy("pbkt", "sbb").parquet(dir2)
    val pruned8 = Dedup.minHashIncrementalPairs(batch,
      spark.read.parquet(dir2), accepted, bandBuckets = m1, bandSubBuckets = m2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pruned8 == flat && pruned8.nonEmpty)
  }

  test("streaming SemDeDup ingest: streamed prune table equals whole-corpus semDedup, any batch split") {
    val cl = graft.operators.Clustering
    // 3 batches (odd split: exercises cross-batch probe AND in-batch
    // generator); parity (pairs ≡ whole-corpus generator, multiplicity
    // included) asserted in-plan inside the run
    val got = graft.streaming.SemDedupIngest
      .runStreamSemDedupIngest(spark, sf, nBatches = 3).collect()
    assert(got.nonEmpty && got.forall(_.getAs[Boolean]("parity_ok")))
    val batch = cl.semDedup(
      cl.cleanVectors(Tables.embeddings(spark, sf)), cl.modelFor(spark, sf))
      .collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getAs[Long]("n"), r.getAs[Long]("n_pruned"),
        r.getAs[Long]("n_kept"), r.getAs[Double]("prune_rate"))
    assert(got.map(key).toSeq == batch.map(key).toSeq)
  }

  test("streaming semantic-leakage monitor: 6-integer grid state equals the whole-corpus audit") {
    val cl = graft.operators.Clustering
    val got = graft.streaming.SemDedupIngest
      .runStreamSemanticLeakage(spark, sf, nBatches = 3).collect()
    assert(got.nonEmpty && got.forall(_.getAs[Boolean]("parity_ok")))
    val full = cl.semanticLeakage(
      cl.cleanVectors(Tables.embeddings(spark, sf)), cl.modelFor(spark, sf))
      .collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getAs[Long]("n_pairs"),
        r.getAs[Double]("share"), r.getAs[Boolean]("is_leak"))
    assert(got.map(key).toSeq == full.map(key).toSeq)
  }

  test("streaming SemDeDup ingest: the probe reads ONLY the batch's cell partitions") {
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sdidx").toFile
    try {
      Seq((1L, Seq(1f, 0f), 1.0, 0), (2L, Seq(0f, 1f), 1.0, 1),
        (3L, Seq(1f, 1f), 1.4, 2))
        .toDF("vec_id", "v", "nrm", "cl")
        .write.partitionBy("cl").mode("overwrite").parquet(tmp.toString)
      val idxSchema = StructType(Seq(
        StructField("vec_id", LongType), StructField("v", ArrayType(FloatType)),
        StructField("nrm", DoubleType), StructField("cl", IntegerType)))
      val files = graft.streaming.SemDedupIngest.cellFiles(tmp, Seq(0, 2))
      assert(files.nonEmpty && files.forall(f =>
        f.getPath.contains("cl=0") || f.getPath.contains("cl=2")))
      val snap = graft.streaming.Replay
        .snapshotRead(spark, tmp, idxSchema, files)
      // structural: the probe's scan CANNOT touch cell 1's files
      assert(snap.inputFiles.nonEmpty && snap.inputFiles.forall(p =>
        p.contains("cl=0") || p.contains("cl=2")))
      assert(snap.select($"cl").distinct().collect()
        .map(_.getInt(0)).toSet == Set(0, 2))
    } finally graft.sources.Staging.rmTree(tmp)
  }

  test("streaming Bradley–Terry ingest: streamed fit equals the batch operator, any batch split") {
    // 3 batches (odd split: cross-batch probe AND in-batch join both
    // exercised); parity (streamed win matrix ≡ whole-corpus matrix,
    // exact integers) asserted in-plan inside the run
    val got = graft.streaming.PreferenceIngest
      .runStreamBradleyTerry(spark, sf, nBatches = 3).collect()
    assert(got.nonEmpty && got.forall(_.getAs[Boolean]("parity_ok")))
    val batch = graft.operators.Preference
      .bradleyTerry(spark, Tables.documents(spark, sf)).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("item"), r.getAs[Long]("wins"), r.getAs[Long]("matches"),
        r.getAs[Double]("score"), r.getAs[Long]("rank"))
    assert(got.map(key).toSeq == batch.map(key).toSeq)
  }

  test("streaming DPO miner: capped readout equals the batch miner, any batch split") {
    // 4 batches (different split from the contract query's 3 —
    // exactly-once pairing must hold for ANY slicing); candidate-set
    // parity vs batch dpoPairs asserted in-plan inside the run
    val got = graft.streaming.PreferenceIngest
      .runStreamDpoPairs(spark, sf, nBatches = 4).collect()
    assert(got.nonEmpty && got.forall(_.getAs[Boolean]("parity_ok")))
    assert(got.forall(_.getAs[Boolean]("bound_ok")))
    val batch = graft.operators.Preference
      .dpoPairsCapped(Tables.documents(spark, sf)).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("chosen_id"), r.getAs[Long]("rejected_id"),
        r.getAs[Int]("gap"), r.getAs[Int]("pair_rank"))
    assert(got.map(key).toSeq == batch.map(key).toSeq)
  }

  test("streaming Bradley–Terry ingest: the probe reads ONLY the batch's block partitions") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-btstore").toFile
    try {
      Seq((1L, "en", "s0", 10L, 0L), (2L, "de", "s0", 20L, 1L),
        (3L, "fr", "s0", 30L, 2L))
        .toDF("doc_id", "lang", "source", "n_chars", "blk")
        .write.partitionBy("blk").mode("overwrite").parquet(tmp.toString)
      val files = graft.streaming.PreferenceIngest.blockFiles(tmp, Seq(0L, 2L))
      assert(files.nonEmpty && files.forall(f =>
        f.getPath.contains("blk=0") || f.getPath.contains("blk=2")))
    } finally graft.sources.Staging.rmTree(tmp)
  }

  test("streaming retrieval-eval monitor: streamed metrics equal the whole-set evaluation, any split") {
    // 3 batches; parity (streamed per-query metric rows ≡ the whole-set
    // evaluation under the frozen index, multiplicity included) is
    // asserted in-plan inside the run
    val row = graft.streaming.RetrievalEvalStream
      .runStreamRetrievalEval(spark, sf, nBatches = 3).head()
    assert(row.getAs[Long]("n_queries") > 0)
    assert(row.getAs[Boolean]("parity_ok"))
    assert(row.getAs[Boolean]("recall_ok") && row.getAs[Boolean]("mrr_ok")
      && row.getAs[Boolean]("ndcg_ok"))
  }

  test("streaming k-anonymity monitor: streamed class counts equal the batch audit, any split") {
    val got = graft.streaming.KAnonStream
      .runStreamKAnonymity(spark, sf, nBatches = 3).collect()
    assert(got.nonEmpty && got.forall(_.getAs[Boolean]("parity_ok")))
    val batch = graft.operators.Privacy.kAnonymityProfile(
      Tables.customer(spark, sf),
      Seq(org.apache.spark.sql.functions.col("c_nationkey"),
        org.apache.spark.sql.functions.col("c_mktsegment"))).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("class_size"), r.getAs[Long]("n_classes"), r.getAs[Long]("n_rows"))
    assert(got.map(key).toSeq == batch.map(key).toSeq)
  }

  test("streaming t-closeness monitor: streamed EMD table equals the batch audit, any split") {
    // 3 batches (different split from the contract query's 4); grid
    // parity asserted in-plan inside the run
    val got = graft.streaming.KAnonStream
      .runStreamTCloseness(spark, sf, nBatches = 3).collect()
    assert(got.nonEmpty && got.forall(_.getAs[Boolean]("parity_ok")))
    val batch = graft.operators.Privacy
      .tCloseness(Tables.customer(spark, sf)).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Number]("nation").longValue(), r.getAs[String]("segment"),
        r.getAs[Long]("class_size"), r.getAs[Double]("t_dist"),
        r.getAs[Boolean]("meets_t"))
    assert(got.map(key).toSeq == batch.map(key).toSeq)
  }

  test("streaming DP accountant: streamed spend table equals the batch accountant, any split") {
    // 3 batches (different split from the contract query's 4); ledger
    // class-set parity asserted in-plan inside the run
    val got = graft.streaming.KAnonStream
      .runStreamDpAccountant(spark, sf, nBatches = 3).collect()
    assert(got.nonEmpty && got.forall(_.getAs[Boolean]("parity_ok")))
    val batch = graft.operators.Privacy.dpAccountant(
      graft.operators.Privacy.dpAccountantLedger(Tables.customer(spark, sf)))
      .collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Number]("nation").longValue(), r.getAs[String]("segment"),
        r.getAs[Double]("eps"), r.getAs[Long]("n_releases"),
        r.getAs[Double]("eps_basic"), r.getAs[Double]("eps_zcdp"),
        r.getAs[Double]("eps_spent"), r.getAs[Boolean]("within_budget"))
    assert(got.map(key).toSeq == batch.map(key).toSeq)
  }

  test("streaming hetero DP accountant: streamed mixed-mechanism spend equals the batch accountant, any split") {
    // 3 batches (different split from the contract query's 4); FULL
    // state parity (keys and counts) asserted in-plan inside the run
    val got = graft.streaming.KAnonStream
      .runStreamDpAccountantHetero(spark, sf, nBatches = 3).collect()
    assert(got.nonEmpty && got.forall(_.getAs[Boolean]("parity_ok")))
    val batch = graft.operators.Privacy.dpAccountantHetero(
      graft.operators.Privacy.dpAccountantHeteroLedger(Tables.customer(spark, sf)))
      .collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Number]("nation").longValue(), r.getAs[String]("segment"),
        r.getAs[String]("mechanism"), r.getAs[Double]("eps"),
        r.getAs[Double]("delta"), r.getAs[Long]("n_releases"),
        r.getAs[Double]("eps_basic"), r.getAs[Double]("delta_basic"),
        r.getAs[Double]("eps_zcdp"), r.getAs[Boolean]("basic_within"),
        r.getAs[Boolean]("zcdp_within"), r.getAs[Boolean]("within_budget"))
    assert(got.map(key).toSeq == batch.map(key).toSeq)
  }

  test("streaming dedup ingest under a FORCED two-level layout: streamed pairs equal the whole-corpus operator") {
    // the past-cap write/probe shape driven end-to-end through the real
    // ingest stream (the capacity rule returns nSub = 1 at every verify
    // SF, so without the override no test ever runs the two-level
    // ingest path — the gap the wrong-n1 latent hid behind): 3 batches,
    // both at-rest stores written pbkt×sbb / sbkt×ssb at (4, 3), full
    // streamed ≡ whole-corpus parity (ids, jaccard, multiplicity)
    // asserted in-plan by the run itself
    val got = graft.streaming.DedupIngest
      .runStreamDedupIngest(spark, sf, nBatches = 3,
        layoutOverride = Some((4, 3)))
      .collect()
    assert(got.length == 1 && got(0).getAs[Boolean]("pairs_nonempty") &&
      got(0).getAs[Boolean]("match_full"))
  }

  test("streaming RDP accountant: streamed DP-SGD spend equals the batch accountant, any split") {
    // 3 batches (different split from the contract query's 4); FULL
    // state parity (keys and counts) asserted in-plan inside the run
    val got = graft.streaming.KAnonStream
      .runStreamDpAccountantRdp(spark, sf, nBatches = 3).collect()
    assert(got.nonEmpty && got.forall(_.getAs[Boolean]("parity_ok")))
    val batch = graft.operators.Privacy.dpAccountantRdp(
      graft.operators.Privacy.dpAccountantRdpLedger(Tables.customer(spark, sf)))
      .collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Number]("nation").longValue(), r.getAs[String]("segment"),
        r.getAs[Double]("q"), r.getAs[Double]("sigma"),
        r.getAs[Long]("steps"), r.getAs[Long]("n_releases"),
        graft.operators.Privacy.RdpAlphas.map(a =>
          r.getAs[Double](s"eps_a$a")),
        r.getAs[Double]("eps_spent"), r.getAs[Int]("best_alpha"),
        r.getAs[Boolean]("within_budget"))
    assert(got.map(key).toSeq == batch.map(key).toSeq)
  }

  test("streaming mixture-reweight monitor: streamed EG weights equal the batch fold, any split") {
    // 4 batches (different split from the contract query's 3); decimal
    // state parity asserted in-plan inside the run
    val got = graft.streaming.MixtureStream
      .runStreamMixtureReweight(spark, sf, nBatches = 4).collect()
    assert(got.nonEmpty && got.forall(_.getAs[Boolean]("parity_ok")))
    val batch = graft.operators.Curation
      .mixtureReweight(spark, Tables.documents(spark, sf)).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Double]("avg_quality"), r.getAs[Double]("weight"))
    assert(got.map(key).toSeq == batch.map(key).toSeq)
  }

  test("streaming SCD2 ingest: incremental merge equals one-shot scdType2 over the whole input") {
    // date-striped batches close open intervals / append versions; closed
    // history immutable; parity asserted row-for-row inside the run
    val row = graft.streaming.ScdIngest.runStreamScdIngest(spark, sf).head()
    assert(row.getAs[Boolean]("versions_nonempty"))
    assert(row.getAs[Boolean]("parity_ok"))
    assert(row.getAs[Long]("n_keys") > 0)
  }

  test("ANN search joins hash-build the bounded query/probe side, never the corpus") {
    import graft.operators.{IndexRegistry, IvfIndex, Similarity}
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter($"vec_id" < 4)
    // lshKnn: the (band,bucket) bucket join must broadcast the query-bands
    // side — left to estimates Spark has hash-built the corpus side
    val lshPlan = plan(Similarity.lshKnn(q, emb, k = 3, planes = 4, bands = 8))
    val lshJoin = lshPlan.linesIterator.find(_.contains("BroadcastHashJoin")).getOrElse("")
    assert(lshJoin.contains("BuildLeft"), lshJoin)
    // IVF search: the cell_id join must broadcast the |Q|·nProbe probe side
    val ivfPlan = plan(IvfIndex.search(spark, IndexRegistry.ivfFull(spark, sf), q, k = 3, nProbe = 2))
    val ivfJoin = ivfPlan.linesIterator.find(_.contains("BroadcastHashJoin")).getOrElse("")
    assert(ivfJoin.contains("BuildLeft"), ivfJoin)
  }

  test("two-tier mining rerank: no nested loop anywhere; rescore stays equi-join shaped") {
    import graft.operators.{IndexRegistry, Pq}
    val emb = Tables.embeddings(spark, sf)
    val labels = emb.select($"vec_id", $"label")
    val p = plan(Pq.hardNegativesIvfPqRerank(
      IndexRegistry.ivfPqFull(spark, sf), labels, emb, emb,
      k = 3, kShort = 8, nProbe = 2))
    // the rescore rejoins are plain id equi-joins: at unbounded |Q| there
    // is nothing to broadcast, and nothing may degenerate to a nested loop
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.linesIterator.filter(l => l.contains("Join")).mkString("\n"))
    // the expensive mining join stays code-sided: the shortlist stage
    // scores codes through the ADC LUT kernel, never corpus embeddings
    assert(p.contains("pq_lut_score"), "expected ADC LUT scoring in the shortlist stage")
  }

  test("compaction rewrites many small files into the planned count, rows intact, no leftovers") {
    import graft.operators.Layout
    val scratch = Files.createTempDirectory("graft-compact-spec").toFile
    try {
      val table = new java.io.File(scratch, "t")
      val src = Tables.orders(spark, sf)
      src.repartition(16).write.parquet(table.toString)
      def pq(d: java.io.File) = d.listFiles().count(_.getName.endsWith(".parquet"))
      val nBefore = pq(table)
      assert(nBefore >= 16) // genuinely fragmented
      val bytes = table.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      val target = bytes / 3 + 1 // plan ~3 output files
      val stats = Layout.compactDir(spark, table.toString, target)
      assert(stats.filesAfter == math.ceil(bytes.toDouble / target).toInt)
      assert(pq(table) == stats.filesAfter)
      assert(stats.rows == src.count())
      assert(spark.read.parquet(table.toString).count() == stats.rows)
      // atomic swap left no stage/backup dirs behind
      assert(scratch.listFiles().map(_.getName).toSet == Set("t"))
    } finally graft.sources.Staging.rmTree(scratch)
  }

  test("streaming ANN serving: per-batch batched-ADC results equal the whole-set search") {
    val row = graft.streaming.AnnServe.runStreamAnnServe(spark, sf).head()
    assert(row.getAs[Boolean]("results_nonempty"))
    assert(row.getAs[Boolean]("parity_ok"))
  }

  test("partitioned compaction rewrites only fragmented leaves and preserves the table") {
    import graft.operators.Layout
    val scratch = Files.createTempDirectory("graft-compact-part").toFile
    try {
      val table = new java.io.File(scratch, "t")
      val src = Tables.orders(spark, sf)
        .withColumn("yr", year($"o_orderdate"))
      // fragment every partition: width-many files per partition dir
      src.repartition(8).write.partitionBy("yr").parquet(table.toString)
      val totalBefore = spark.read.parquet(table.toString).count()
      val stats = Layout.compactPartitionedDir(spark, table.toString, targetBytes = 1L << 30)
      assert(stats.nonEmpty)
      stats.foreach { case (rel, st) =>
        assert(rel.startsWith("yr="), rel)
        assert(st.filesAfter == 1 && st.filesBefore > 1, s"$rel: $st")
      }
      val after = spark.read.parquet(table.toString)
      assert(after.count() == totalBefore)
      assert(after.columns.contains("yr")) // partition layout preserved
      // a second pass finds nothing fragmented
      assert(Layout.compactPartitionedDir(spark, table.toString, 1L << 30).isEmpty)
    } finally graft.sources.Staging.rmTree(scratch)
  }

  test("bench overrides are a subset of the contract and return rows") {
    val missing = SparkEntry.benchOverrides.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"benchOverrides not in queries: $missing")
    SparkEntry.benchOverrides.foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"$name operator-only plan returned 0 rows")
    }
  }

  // --- single-task window ban ---------------------------------------------
  // A WindowExec with an empty partition spec moves ALL its input through
  // one task. That is only acceptable when the input is a bounded summary
  // (an aggregate sits between the window and every raw scan — value-domain
  // or partition-count sized, never row-count sized). These two tests make
  // that a structural invariant of the bench path.

  private def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      flattenPlan(a.inputPlan)
    case other => other +: other.children.flatMap(flattenPlan)
  }

  /** True iff every path from `p` down to a leaf crosses an aggregate
    * whose grouping keys plausibly have a BOUNDED domain — i.e. the
    * subtree's cardinality is aggregation-bounded, not row-sized. An
    * aggregate keyed on a continuous-typed column (double/float/decimal/
    * timestamp) does NOT count: for such data distinct ≈ rows, so a
    * window over it is still row-cardinality (the Robust.scala class of
    * regression this guard exists to catch). */
  private def aggBounded(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
    // a SMALL global limit (orderBy+limit plans as TakeOrderedAndProject)
    // bounds the subtree's cardinality by the literal — e.g. hybridRrf's
    // rank window over a top-N retrieval list. The literal is checked:
    // limit(Int.MaxValue)-style "no-op" limits must not blind the guard.
    case l: org.apache.spark.sql.execution.GlobalLimitExec if l.limit <= 10000 => true
    case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec if t.limit <= 10000 => true
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
      import org.apache.spark.sql.types._
      a.groupingExpressions.forall(_.dataType match {
        case DoubleType | FloatType | TimestampType | TimestampNTZType => false
        case _: DecimalType => false
        case _ => true
      })
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => aggBounded(r.child)
    case leaf if leaf.children.isEmpty => false
    case other => other.children.forall(aggBounded)
  }

  test("no single-task global window over row-sized input anywhere on the bench path") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    // Stream records run their streams to completion at construction time;
    // their batch twins are covered via the operators they share. Building
    // a Batch record must start no streaming query at all.
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val bad =
      try Contract.all.filter(_.kind == Query.Batch).sortBy(_.name).flatMap { q =>
        val before = started.get()
        val plan = q.benchPlan.getOrElse(q.plan)(spark, sf).queryExecution.executedPlan
        val streams = started.get() - before
        (if (streams > 0) Seq(s"${q.name}: a Batch record started $streams streaming queries")
         else Nil) ++ flattenPlan(plan).collect {
          case w: WindowExec if w.partitionSpec.isEmpty && !aggBounded(w.child) =>
            s"${q.name}: ${w.windowExpression.mkString(",").take(80)}"
        }
      }
      finally spark.streams.removeListener(listener)
    assert(bad.isEmpty, "Batch records that start a stream or run a single-task global " +
      s"window over row-sized input:\n${bad.mkString("\n")}")
  }

  test("ppl bucketing never sorts a whole source on one task (windows are pid-keyed or summary-sized)") {
    import org.apache.spark.sql.execution.window.WindowExec
    // The failure mode here is a per-source window (few, enormous groups),
    // which the empty-spec sweep cannot see: require every window in the
    // plan to be keyed by the range-partition id (parallel by construction)
    // or to run over an aggregated summary.
    val plan = SparkEntry.queries("q_ppl_buckets")(spark, sf).queryExecution.executedPlan
    val bad = flattenPlan(plan).collect {
      case w: WindowExec
          if !w.partitionSpec.exists(_.references.exists(_.name == "__pid")) &&
            !aggBounded(w.child) =>
        w.partitionSpec.mkString(",")
    }
    assert(bad.isEmpty, s"row-sized windows not keyed by partition id: $bad")
  }

  test("IVF-PQ at rest: probe scan prunes to probed cells and reads only code columns") {
    import graft.operators.Pq
    val emb = Tables.embeddings(spark, sf)
    val idx = Pq.buildIvfPq(spark, emb, dims = 64, nLists = 4, m = 8, ksub = 16)
    val dir = Files.createTempDirectory("graft-ivfpq").toString
    idx.encoded.write.mode("overwrite").partitionBy("cell_id").parquet(dir)
    val atRest = Pq.IvfPqIndex(spark.read.parquet(dir), idx.ivfCents, idx.cb)
    val q = emb.filter($"vec_id" < 2)
    val search = Pq.ivfPqSearch(atRest, q, k = 3, nProbe = 2)
    val leaf = search.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("cell_id")).getOrElse("")
    // the probe-set isin predicate must land as a PARTITION filter, and
    // the scan must read codes, never a float embedding column
    assert(leaf.contains("PartitionFilters") && leaf.contains("cell_id"), leaf)
    assert(leaf.contains("ReadSchema") && !leaf.contains("embedding"), leaf)
    // at-rest results = in-memory results (same index, same probes)
    val mem = Pq.ivfPqSearch(idx, q, k = 3, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rest = search.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(mem == rest)
  }

  test("band index at rest: probe scan partition-prunes to the buckets the batch can hit") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val accepted = Dedup.shingleSets(docs.filter($"doc_id" % 5 =!= 0), n = 3)
    val dir = Files.createTempDirectory("graft-bands").toString
    Dedup.bandRows(accepted).withColumn("pbkt", Dedup.bandPartition())
      .write.mode("overwrite").partitionBy("pbkt").parquet(dir)
    val atRest = spark.read.parquet(dir)
    val batch = Dedup.shingleSets(docs.filter($"doc_id" % 5 === 0), n = 3)
    val pairs = Dedup.minHashIncrementalPairs(batch, atRest, accepted)
    // the batch's bucket-hash set lands as a PARTITION filter on the
    // at-rest scan — per-batch probes read only the buckets the batch hits
    val leaf = pairs.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(s => s.contains("pbkt") && s.contains("PartitionFilters"))
      .getOrElse("")
    assert(leaf.contains("PartitionFilters") &&
      (leaf.contains("INSET") || leaf.contains(" IN (")), leaf)
    // pruning must not change the answer: same pairs as the flat index
    val flat = Dedup.minHashIncrementalPairs(batch, atRest.drop("pbkt"), accepted)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pruned = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pruned == flat && pruned.nonEmpty)
  }

  test("shingle store at rest: verify join-back partition-prunes to the candidate ids' buckets") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val accepted = Dedup.shingleSets(docs.filter($"doc_id" % 5 =!= 0), n = 3)
    val bandDir = Files.createTempDirectory("graft-bands2").toString
    Dedup.bandRows(accepted).withColumn("pbkt", Dedup.bandPartition())
      .write.mode("overwrite").partitionBy("pbkt").parquet(bandDir)
    val atRestBands = spark.read.parquet(bandDir)
    val shDir = Files.createTempDirectory("graft-shstore").toString
    accepted.withColumn("sbkt", Dedup.shinglePartition($"doc_id"))
      .write.mode("overwrite").partitionBy("sbkt").parquet(shDir)
    val atRestSh = spark.read.parquet(shDir)
    val batch = Dedup.shingleSets(docs.filter($"doc_id" % 5 === 0), n = 3)
    val pairs = Dedup.minHashIncrementalPairs(batch, atRestBands, atRestSh)
    // the candidate ids' sbkt set lands as a PARTITION filter on the
    // at-rest shingle scan — the verify join-back reads candidate-held
    // partitions, never the whole store
    val leaf = pairs.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(s => s.contains("sbkt") && s.contains("PartitionFilters"))
      .getOrElse("")
    assert(leaf.contains("PartitionFilters") &&
      (leaf.contains("INSET") || leaf.contains(" IN (")), leaf)
    // pruning must not change the answer: same pairs as the flat store
    val flat = Dedup.minHashIncrementalPairs(batch, atRestBands, accepted)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pruned = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pruned == flat && pruned.nonEmpty)
  }

  test("two-level shingle store at rest: verify join-back prunes both levels; pairs equal the flat store") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val accepted = Dedup.shingleSets(docs.filter($"doc_id" % 5 =!= 0), n = 3)
    val bandDir = Files.createTempDirectory("graft-bands3").toString
    Dedup.bandRows(accepted).withColumn("pbkt", Dedup.bandPartition())
      .write.mode("overwrite").partitionBy("pbkt").parquet(bandDir)
    val atRestBands = spark.read.parquet(bandDir)
    val (m1, m2) = (4, 3) // forced two-level: the past-cap verify shape
    val shDir = Files.createTempDirectory("graft-shstore2lvl").toString
    Dedup.withShingleLayout(accepted, m1, m2)
      .write.mode("overwrite").partitionBy("sbkt", "ssb").parquet(shDir)
    val atRestSh = spark.read.parquet(shDir)
    val batch = Dedup.shingleSets(docs.filter($"doc_id" % 5 === 0), n = 3)
    val pairs = Dedup.minHashIncrementalPairs(batch, atRestBands, atRestSh,
      shingleBuckets = m1, shingleSubBuckets = m2)
    // the candidate ids' combined cell filter lands as a PARTITION
    // filter over BOTH shingle-store directory levels
    val leaf = pairs.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(s => s.contains("ssb") && s.contains("PartitionFilters"))
      .getOrElse("")
    assert(leaf.contains("PartitionFilters") &&
      (leaf.contains("INSET") || leaf.contains(" IN (")), leaf)
    // pruning must not change the answer
    val flat = Dedup.minHashIncrementalPairs(batch, atRestBands, accepted)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pruned = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pruned == flat && pruned.nonEmpty)
    // default shingleSubBuckets against a two-level store fails loud
    val ex = intercept[IllegalArgumentException] {
      Dedup.minHashIncrementalPairs(batch, atRestBands, atRestSh,
        shingleBuckets = m1)
    }
    assert(ex.getMessage.contains("two-level"), ex.getMessage)
    // and a wrong M2 reaches the existing left-join candidate guard:
    // the mispruned store loses a candidate's partition and the guard
    // raises naming the missing doc instead of silently dropping pairs
    val ex2 = intercept[Exception] {
      Dedup.minHashIncrementalPairs(batch, atRestBands, atRestSh,
        shingleBuckets = m1, shingleSubBuckets = 5).collect()
    }
    assert(causeMsgs(ex2).exists(_.contains("missing from the pruned shingle store")), ex2)
  }

  test("shingle-store pruning: a layout mismatch fails loud instead of silently dropping pairs") {
    import graft.operators.Dedup
    // exact-dup pair (identical text ⇒ all bands equal ⇒ the candidate
    // is guaranteed), index side carrying a WRONG sbkt labeling: the
    // probe's correctly-derived bucket list prunes the row away, and
    // the guard must raise instead of silently dropping the pair
    val idx = Dedup.shingleSets(
      Seq((0L, "x y z w v u t s")).toDF("doc_id", "text"), n = 3)
    val batch = Dedup.shingleSets(
      Seq((1L, "x y z w v u t s")).toDF("doc_id", "text"), n = 3)
    val bands = Dedup.bandRows(idx)
    val wrong = idx.withColumn("sbkt", lit(999))
    val ex = intercept[Exception] {
      Dedup.minHashIncrementalPairs(batch, bands, wrong).collect()
    }
    assert(causeMsgs(ex).exists(_.contains("missing from the pruned shingle store")), ex)
    // positive control: the CORRECT labeling finds the pair through the
    // same pruned path
    val right = idx.withColumn("sbkt", Dedup.shinglePartition($"doc_id"))
    val got = Dedup.minHashIncrementalPairs(batch, bands, right).collect()
    assert(got.length == 1 && got(0).getDouble(2) == 1.0)
  }

  test("clustered compaction preserves data skipping; plain compaction would destroy it") {
    import graft.operators.Layout
    val n = 20000
    val domain = 10000L
    val df = spark.range(n)
      .select(($"id" % domain).as("x"), (($"id" * 2654435761L) % domain).as("y"))
    def meanYExtent(path: String) = {
      val b = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min($"y").as("y0"), max($"y").as("y1"))
        .collect()
      b.map(r => (r.getLong(2) - r.getLong(1) + 1).toDouble / domain).sum / b.length
    }
    val dir = Files.createTempDirectory("graft-zcompact").toString
    Layout.writeClustered(df, s"$dir/z1", numFiles = 16, "x", "y")
    Layout.writeClustered(df, s"$dir/z2", numFiles = 16, "x", "y")
    val bytes = new java.io.File(s"$dir/z1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val target = bytes / 4 + 1 // plan ~4 output files from 16
    // cluster-preserving: re-derive the z key, range-partition on it
    val stats = Layout.compactDirClustered(spark, s"$dir/z1", target,
      orderCols = Seq("zorder_key"), deriveKey = Layout.zorderKey(_, "x", "y"))
    assert(stats.rows == n && stats.filesAfter < stats.filesBefore, stats)
    val clusteredExtent = meanYExtent(s"$dir/z1")
    // plain coalesce-compaction on the twin table: merges arbitrary
    // rectangles, every surviving file's bounds balloon toward full-domain
    Layout.compactDir(spark, s"$dir/z2", target)
    val plainExtent = meanYExtent(s"$dir/z2")
    assert(clusteredExtent < 0.7, f"clustered compaction must keep per-file y bounds fractional: $clusteredExtent%.3f")
    assert(plainExtent > clusteredExtent,
      f"plain compaction should widen bounds (got plain=$plainExtent%.3f vs clustered=$clusteredExtent%.3f)")
  }

  test("partitioned compaction rewrites fragmented leaves concurrently") {
    import graft.operators.Layout
    val root = Files.createTempDirectory("graft-leafpar").toString
    // 6 leaves × 5 small files each
    spark.range(6000)
      .select(($"id" % 6).as("p"), $"id".as("v"))
      .repartition(5)
      .write.partitionBy("p").mode("overwrite").parquet(root)
    def leafFiles(p: Int) = new java.io.File(s"$root/p=$p").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert((0 until 6).forall(leafFiles(_) > 1))
    val results = Layout.compactPartitionedDir(spark, root, 1L << 30, maxConcurrent = 4)
    assert(results.size == 6, results.map(_._1))
    assert(results.forall { case (_, s) => s.filesAfter == 1 && s.filesBefore > 1 }, results)
    assert((0 until 6).forall(leafFiles(_) == 1))
    assert(spark.read.parquet(root).count() == 6000)
    assert(spark.read.parquet(root).agg(sum($"v")).head.getLong(0) == 5999L * 6000 / 2)
  }

  test("bucket grouping for the pair generators does a map-side partial collect") {
    // the generators' one-shuffle claim rests on ObjectHashAggregate
    // running partial_collect_list BEFORE the exchange — a regression to
    // a full-row shuffle would double the bucket-build bandwidth
    val emb = Tables.embeddings(spark, sf)
    val base = emb.select($"vec_id", $"embedding",
      graft.functions.l2Norm($"embedding").as("nrm"), ($"vec_id" % 4).as("cell_id"))
    val p = plan(base.groupBy($"cell_id")
      .agg(collect_list(struct($"vec_id", $"embedding", $"nrm")).as("members"))
      .select(graft.functions.PairGenerators.cosinePairs($"members", 0.4)
        .as(Seq("vec_a", "vec_b", "cosine"))))
    val partialIdx = p.indexOf("partial_collect_list")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(cell_id")
    assert(partialIdx >= 0 && exchangeIdx >= 0, p)
    // plan prints top-down: the exchange must appear ABOVE the partial agg
    assert(exchangeIdx < partialIdx, p)
  }

  test("year-partitioned writes prune partitions on read") {
    val dir = Files.createTempDirectory("graft-part").toString
    Tables.orders(spark, sf)
      .withColumn("o_year", year($"o_orderdate"))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    val read = spark.read.parquet(dir).filter($"o_year" === 1996)
    val leaf = read.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("PartitionFilters") && leaf.contains("1996"), leaf)
    val expected = Tables.orders(spark, sf).filter(year($"o_orderdate") === 1996).count()
    assert(read.count() == expected)
  }

  test("join-driven dynamic partition pruning reaches the partitioned fact scan") {
    // The 100 TB shape: a fact partitioned on the join key, joined to a
    // small FILTERED dim — Spark must inject the dim's build-side values
    // as a runtime partition filter (DPP), so the fact scan reads only
    // the matching partitions instead of all of them.
    val dir = Files.createTempDirectory("graft-dpp").toString
    Tables.orders(spark, sf)
      .withColumn("o_year", year($"o_orderdate"))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    val fact = spark.read.parquet(dir)
    // the dim must be a real source — a LocalRelation's filter gets
    // constant-folded away before the DPP rule checks for a selective
    // predicate on the build side
    val dimDir = Files.createTempDirectory("graft-dpp-dim").toString
    Seq((1996, "keep"), (1997, "drop")).toDF("d_year", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val q = fact.join(dim, $"o_year" === $"d_year").filter($"tag" === "keep")
    // under AQE the AdaptiveSparkPlan node is a leaf, so walk the plan's
    // printed tree (which includes the scan's PartitionFilters) instead
    // of collectLeaves
    val p = plan(q)
    assert(p.contains("dynamicpruning"), p)
    val expected = Tables.orders(spark, sf)
      .filter(year($"o_orderdate") === 1996).count()
    assert(q.count() == expected)
  }

  test("kNN ranks with the bounded-heap aggregate, not a window sort") {
    val emb = Tables.embeddings(spark, sf)
    val p = plan(graft.operators.Similarity.bruteForceKnn(emb.filter($"vec_id" < 4), emb, k = 3))
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window"), p)
  }

  test("MinHash banding exchange carries only slim rows (no shingle arrays)") {
    // every exchange (shuffle OR broadcast) feeding the banding self-join
    // must ship fixed-width rows: the shingle hash arrays ride ONLY the
    // final verification joins. Join exchanges exist only post-
    // EnsureRequirements, and AQE hides them pre-execution — plan with AQE
    // off for the inspection.
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val exchanges =
      try {
        val df = graft.operators.Dedup.minHashNearDuplicates(Tables.documents(spark, sf))
        df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.Exchange => e
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
    val banding = exchanges.filter(_.child.output.exists(a => a.name == "band" || a.name == "bucket"))
    assert(banding.nonEmpty, "expected banding-side exchanges")
    banding.foreach { e =>
      assert(!e.child.output.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
        s"banding exchange carries an array column: ${e.child.output.map(a => s"${a.name}:${a.dataType.simpleString}")}")
    }
  }

  test("URL dedup: canonicalization map-side in codegen, one partial-agg shuffle") {
    // the crawl-scale contract: canonical keys are computed at scan speed
    // (no UDF, inside a WholeStageCodegen span) and the ONLY data shuffle
    // is the groupBy on the canonical, fed by a map-side partial aggregate
    // (one row per key per task crosses the wire, never the corpus)
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan(SparkEntry.queries("q_url_dedup")(spark, sf))
      assert(!p.contains("UDF"), p)
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 1, s"expected exactly 1 hash exchange, got $hashEx:\n$p")
      assert("HashAggregate.*partial".r.findFirstIn(p).isDefined, p)
      // canonicalization projection sits in a codegen span ("*(n) ...")
      assert("\\*\\(1\\)".r.findFirstIn(p).isDefined, p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("theta overlap runs exactly one sketch-build pass (no self-join recompute)") {
    // the adjacent-pair pairing must come from lead() over the
    // |sources|-row aggregate, never a self-join: the self-join's pushed
    // key filters defeat exchange reuse and re-run the whole
    // shingle+sketch pass per side
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan(SparkEntry.benchOverrides("q_theta_overlap")(spark, sf))
      val partials = "partial_theta_sketch_agg".r.findAllIn(p).length
      assert(partials == 1, s"expected 1 partial sketch pass, got $partials:\n$p")
      // the documents substrate is either the raw scan or, when the
      // cpuWide gate fires (narrow local corpus), its checkpoint barrier
      // — exactly ONE of them feeding the single sketch pass either way
      val scans = "FileScan parquet".r.findAllIn(p).length +
        "Scan ExistingRDD".r.findAllIn(p).length
      assert(scans == 1, s"expected 1 documents substrate, got $scans")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("blocked Jaccard generates each qualifying pair exactly once (size bands)") {
    // doc sizes straddling band boundaries: near-equal sizes must pair ONCE,
    // far-apart sizes must not pair at all
    val docs = Seq(
      (1L, "w", (1 to 40).map(i => s"t$i").mkString(" ")),
      (2L, "w", (1 to 40).map(i => s"t$i").mkString(" ") + " x1"),
      (3L, "w", (1 to 9).map(i => s"t$i").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val pairs = graft.operators.Dedup.blockedJaccardPairs(docs, threshold = 0.5).collect()
    assert(pairs.length == 1, pairs.mkString(","))
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
  }

  test("Z-order clustering bounds every file in BOTH dimensions (data skipping)") {
    import graft.operators.Layout
    // x uniform, y an independent-looking deterministic permutation of the
    // same domain — a single-column sort would leave y unclustered.
    val n = 20000
    val domain = 10000L
    val df = spark.range(n)
      .select(($"id" % domain).as("x"), (($"id" * 2654435761L) % domain).as("y"))
    // Morton key sanity: interleaved bits reconstruct the inputs
    val key = df.select(Layout.interleave16($"x", $"y").as("k"), $"x", $"y").head
    val k = key.getLong(0)
    val xBack = (0 until 16).map(i => ((k >> (2 * i)) & 1L) << i).sum
    val yBack = (0 until 16).map(i => ((k >> (2 * i + 1)) & 1L) << i).sum
    assert(xBack == key.getLong(1) && yBack == key.getLong(2))

    val dir = Files.createTempDirectory("graft-zorder").toString
    Layout.writeClustered(df, s"$dir/z", numFiles = 16, "x", "y")
    df.repartitionByRange(16, $"x").sortWithinPartitions($"x")
      .write.mode("overwrite").parquet(s"$dir/linear")

    def fileBounds(path: String) = spark.read.parquet(path)
      .groupBy(input_file_name())
      .agg(min($"x").as("x0"), max($"x").as("x1"), min($"y").as("y0"), max($"y").as("y1"))
      .collect()
    val zb = fileBounds(s"$dir/z")
    val lb = fileBounds(s"$dir/linear")
    assert(zb.length == 16 && lb.length == 16)
    // A y-only range predicate (10% of the domain): the x-sorted layout
    // cannot skip ANY file; the Z-order layout skips most.
    def touched(bounds: Array[org.apache.spark.sql.Row], lo: Long, hi: Long) =
      bounds.count(r => r.getLong(3) <= hi && r.getLong(4) >= lo)
    val (lo, hi) = (3000L, 3999L)
    assert(touched(lb, lo, hi) == 16, "x-sorted layout should not prune a y predicate")
    assert(touched(zb, lo, hi) <= 8, s"z-order should bound y per file, touched=${touched(zb, lo, hi)}")
    // Every x-sorted file spans the FULL y domain; a z-order file's y extent
    // is a fraction of it (rectangles, not stripes). Mean extents compared
    // per dimension — extent, not area, is what min/max skipping prunes on.
    def meanYExtent(bounds: Array[org.apache.spark.sql.Row]) =
      bounds.map(r => (r.getLong(4) - r.getLong(3) + 1).toDouble / domain).sum / bounds.length
    assert(meanYExtent(lb) > 0.95, f"x-sorted layout should span y fully: ${meanYExtent(lb)}%.3f")
    assert(meanYExtent(zb) < 0.55, f"z-order y extent should be fractional: ${meanYExtent(zb)}%.3f")
  }

  test("TPC-H Q18: HAVING-IN subquery plans as a semi join; top-20 as TakeOrdered") {
    val p = plan(SparkEntry.queries("q_sql_tpch_q18")(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("TPC-H Q8: the 8-relation star broadcasts its dims, no nested loop") {
    val p = plan(SparkEntry.queries("q_sql_tpch_q8")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("TPC-H Q21: the EXISTS/NOT-EXISTS double correlation plans as semi + anti joins") {
    val p = plan(SparkEntry.queries("q_sql_tpch_q21")(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("TPC-H Q17: the correlated scalar avg decorrelates to an aggregate + equi-join") {
    val p = plan(SparkEntry.queries("q_sql_tpch_q17")(spark, sf))
    // the per-partkey average must join back on l_partkey, never loop
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("avg("), p)
  }

  test("semDedup: pair generation is cell-bounded — the in-cell generator, ONE cell shuffle, no pair join") {
    import graft.operators.Clustering
    val rows = Clustering.cleanVectors(Tables.embeddings(spark, sf))
    val cents = Clustering.modelFor(spark, sf)
    val p = plan(Clustering.semDedup(rows, cents))
    // pairs come from the native in-cell generator, never a relation join
    assert(p.contains("cosine_pairs"), p)
    // below the generator: exactly the one hash shuffle that groups each
    // cell, and NO join — cross-cluster pair generation is structurally
    // impossible (the generator only sees one cell's member array)
    val below = p.substring(p.indexOf("cosine_pairs"))
    assert(!below.contains("Join"), below)
    assert("Exchange hashpartitioning".r.findAllIn(below).size == 1, below)
    // and nothing in the whole plan nested-loops two relations
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("semDedupBySource: source totals reproduce the global per-cluster prune table") {
    import graft.operators.Clustering
    val rows = Clustering.cleanVectors(Tables.embeddings(spark, sf))
    val cents = Clustering.modelFor(spark, sf)
    val by = Clustering.semDedupBySource(rows, cents, Tables.documents(spark, sf))
      .collect()
    val global = Clustering.semDedup(rows, cents).collect()
    // every embedding id maps to a document (shared id domain), so the
    // same keeper decision splits losslessly across sources
    assert(by.map(_.getAs[Long]("n")).sum == global.map(_.getAs[Long]("n")).sum)
    assert(by.map(_.getAs[Long]("n_pruned")).sum ==
      global.map(_.getAs[Long]("n_pruned")).sum)
    by.foreach { r =>
      assert(r.getAs[Long]("n_kept") ==
        r.getAs[Long]("n") - r.getAs[Long]("n_pruned"))
    }
  }

  test("grouped cluster-share monitor: label blocks sum to the global monitor; parity holds") {
    import graft.streaming.ClusterShareStream
    val by = ClusterShareStream.runStreamClusterShareBy(spark, sf).collect()
    val global = ClusterShareStream.runStreamClusterShare(spark, sf).collect()
      .map(r => r.getAs[Int]("cluster") ->
        (r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"))).toMap
    assert(by.nonEmpty && by.forall(_.getAs[Boolean]("parity_ok")))
    // per-cluster sums over labels reproduce the global count table (the
    // testdata has no null labels, so no rows fall out of the grouping)
    val sums = by.groupBy(_.getAs[Int]("cluster")).map { case (cl, rs) =>
      cl -> (rs.map(_.getAs[Long]("n_ref")).sum, rs.map(_.getAs[Long]("n_cur")).sum)
    }
    assert(sums == global, s"sums=$sums global=$global")
    // each label block is the global algebra on that slice: shares sum
    // to 1 within the label (same n_ref/n_cur denominators)
    by.groupBy(_.getAs[Long]("label")).foreach { case (l, rs) =>
      assert(math.abs(rs.map(_.getAs[Double]("share_ref")).sum - 1.0) < 1e-4, s"label $l")
      assert(math.abs(rs.map(_.getAs[Double]("share_cur")).sum - 1.0) < 1e-4, s"label $l")
    }
  }

  test("streaming conformal monitor equals the batch gate row, plus in-plan parity") {
    import graft.operators.{Curation, Robust}
    val got = graft.streaming.ConformalStream.runStreamConformal(spark, sf).head()
    assert(got.getAs[Boolean]("parity_ok"))
    val docs = Tables.documents(spark, sf)
    val q = Curation.qualityScoreRaw(docs).select($"doc_id", $"quality")
    val a = Curation.curationAuditRaw(docs)
      .select($"doc_id", ($"reason" === "kept").as("kept"))
    val want = Robust.conformalGate(
      q.join(a, "doc_id"), $"doc_id", $"quality", $"kept").head()
    assert(Seq("n_cal", "n_test", "qhat", "coverage", "avg_set_size")
      .forall(c => got.getAs[Any](c) == want.getAs[Any](c)),
      s"got=$got want=$want")
  }

  test("grouped conformal monitor equals the Mondrian gate rows, plus in-plan parity") {
    import graft.operators.{Curation, Robust}
    val got = graft.streaming.ConformalStream.runStreamConformalBy(spark, sf)
      .collect().sortBy(_.getAs[String]("source"))
    assert(got.nonEmpty && got.forall(_.getAs[Boolean]("parity_ok")))
    val docs = Tables.documents(spark, sf)
    val q = Curation.qualityScoreRaw(docs).select($"doc_id", $"quality")
    val a = Curation.curationAuditRaw(docs)
      .select($"doc_id", ($"reason" === "kept").as("kept"))
    val want = Robust.conformalGateBy(
        q.join(a, "doc_id").join(docs.select($"doc_id", $"source"), "doc_id"),
        $"doc_id", $"quality", $"kept", "source")
      .collect().sortBy(_.getAs[String]("source"))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      Seq("source", "n_cal", "n_test", "qhat", "coverage", "avg_set_size")
        .foreach(c => assert(g.getAs[Any](c) == w.getAs[Any](c), s"$c: $g vs $w"))
    }
  }

  test("k-means assignment is a pure projection (no exchange, no join); rollup pays ONE shuffle") {
    import graft.operators.Clustering
    val rows = Clustering.cleanVectors(Tables.embeddings(spark, sf))
    val cents = Clustering.modelFor(spark, sf)
    // assignment: centroids ride as inlined literals — scan → project only
    val pa = plan(Clustering.assign(rows, cents))
    assert(!pa.contains("Exchange") && !pa.contains("Join"), pa)
    // rollup: exactly the one hash aggregation exchange, nothing else
    val pr = plan(Clustering.kmeansRollup(rows, cents))
    assert("Exchange hashpartitioning".r.findAllIn(pr).size == 1, pr)
    assert(!pr.contains("Join") && !pr.contains("CartesianProduct"), pr)
  }
}
