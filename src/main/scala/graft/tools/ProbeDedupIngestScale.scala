package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Round-15 measurement for the LAST argued-not-measured ingest claim
  * (SCALE.md's own honesty note): the DedupIngest band-pruned probe
  * against a 10× at-rest index, on a substrate whose near-dup rate is
  * HELD — so probe growth separates cleanly into overhead vs true
  * positives.
  *
  * Substrate: replica r of each document prefixes every token with
  * `r<r>_`. Token tagging is a bijection on 3-token shingles, so each
  * replica's INTERNAL near-dup structure equals the original exactly,
  * while cross-replica shingle sets are DISJOINT (Jaccard 0 — no
  * chance pairs at any threshold). 10× docs ⇒ exactly 10× near-dup
  * pairs: rate held by construction, unlike the rotated-replica
  * embedding substrate where chance-level cosine pairs inflate edges.
  *
  * Probe protocol (the ProbeIngestScale posture): the at-rest band
  * index + shingle store are staged UNTIMED per side; the TRIGGER — 4
  * replica-0 documents with fresh ids and their last token dropped
  * (true near-dups of their at-rest originals, identical on every
  * side) — runs the stream's exact per-batch pair path
  * ([[Dedup.minHashIncrementalPairsPreBanded]] with the driver-planned
  * bucket list). Reported per side: wall (min-of-3), band-index rows
  * inside the probed `pbkt` partitions (the pruned scan's size), the
  * probed-partition count, and the pair count (must be 4 everywhere —
  * rate held).
  *
  * The third row stages the SAME 10× index under a FINER at-rest
  * partition count (160 instead of the shipped 16): with 16
  * partitions a multi-document trigger's band rows hit nearly every
  * partition, so the pruned scan degenerates to the whole index and
  * probe cost tracks index size; a partition count grown with the
  * corpus (the autoNLists posture applied to the band layout) keeps
  * the probed fraction at the trigger's footprint. */
object ProbeDedupIngestScale {

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val work = Substrate.Work
    val spark = Substrate.session()

    // ---- held-rate text substrates, shared with ProbeGraphTextScale ----
    val (oneDir, tenDir) = Substrate.stageTaggedDocs(spark, base, work)
    val src = spark.read.parquet(s"$base/documents.parquet")
      .select(col("doc_id"), col("text"))

    // ---- the trigger: 4 replica-0 docs, fresh ids, last token dropped
    // (exact-Jaccard near-dups of their at-rest originals; same batch on
    // every side)
    val trigger = src.filter(col("doc_id") < 4)
      .select((col("doc_id") + lit(99L) * Substrate.Off).as("doc_id"),
        Substrate.tagged(col("text"), lit(0)).as("text"))
      .select(col("doc_id"),
        when(size(split(col("text"), " ")) > 1,
          array_join(slice(split(col("text"), " "), lit(1),
            size(split(col("text"), " ")) - 1), " "))
          .otherwise(col("text")).as("text"))
      .localCheckpoint(true)
    println(s"trigger batch: ${trigger.count()} docs")

    def side(tag: String, corpusDir: String, nPart: Int, nSub: Int = 1): Unit = {
      val docs = spark.read.parquet(corpusDir)
      val bandDir = new java.io.File(s"$work/bandidx-$tag")
      val shDir = new java.io.File(s"$work/shidx-$tag")
      val partCols = if (nSub > 1) Seq("pbkt", "sbb") else Seq("pbkt")
      if (!bandDir.exists()) {
        val sh = Dedup.shingleSets(docs, n = 3)
        Dedup.withBandLayout(Dedup.bandRows(sh), nPart, nSub)
          .repartition(partCols.map(col): _*)
          .write.partitionBy(partCols: _*).parquet(bandDir.toString)
        sh.write.parquet(shDir.toString)
      }
      // round-16: the shingle store's at-rest sbkt layout (the verify
      // side of the pruning story; keyed by nPart so the ruled row
      // stages its own; two-level sides stage sbkt × ssb)
      val shPartCols = if (nSub > 1) Seq("sbkt", "ssb") else Seq("sbkt")
      val shPartDir = new java.io.File(s"$work/shidx-sbkt-$tag-$nPart-$nSub")
      if (!shPartDir.exists())
        Dedup.withShingleLayout(spark.read.parquet(shDir.toString), nPart, nSub)
          .repartition(shPartCols.map(col): _*)
          .write.partitionBy(shPartCols: _*).parquet(shPartDir.toString)
      val bandsSnap = spark.read.parquet(bandDir.toString)
      val shSnap = spark.read.parquet(shPartDir.toString)

      // the stream's per-batch path: one banding pass, driver-planned
      // bucket list, pruned probe + exact-Jaccard verification over the
      // sbkt-pruned shingle store
      val newSh = Dedup.shingleSets(trigger, n = 3).localCheckpoint(true)
      val newBands = Dedup.bandRows(newSh).localCheckpoint(true)
      // probe plan, exactly as DedupIngest builds it: level-1 bucket list
      // for single-level stores, the combined cell-id list for two-level
      val bkts =
        if (nSub > 1) Nil
        else newBands.select(Dedup.bandPartition(nPart).as("pbkt"))
          .distinct().collect().map(_.getInt(0)).toSeq
      val cells =
        if (nSub > 1)
          Some(newBands.select(Dedup.bandCell(nPart, nSub).as("c"))
            .distinct().limit(4097).collect().map(_.getInt(0)).toSeq)
        else None
      // the readout below prints cell-exact pruning stats; the shipped
      // impl falls back to the level-1 prune past 4096 cells, so a
      // trigger that large would make the printout misrepresent the
      // timed path — fail loud instead (the 4-doc trigger is ≤ 64)
      require(cells.forall(_.length <= 4096),
        s"$tag: trigger cell footprint exceeds the 4096 isin bound — " +
          "printed pruning stats would not match the timed fall-back path")
      val pruneFilter = cells match {
        case Some(cs) => (col("sbb") * lit(nPart) + col("pbkt")).isin(cs: _*)
        case None => col("pbkt").isin(bkts: _*)
      }
      val nParts = nPart * nSub
      val nProbedParts = cells.map(_.length).getOrElse(bkts.length)
      val probedRows = bandsSnap.filter(pruneFilter).count()
      val indexRows = bandsSnap.count()
      def once(): (Long, Double) = {
        val t0 = System.nanoTime()
        val n = Dedup.minHashIncrementalPairsPreBanded(
          newSh, newBands, bandsSnap, shSnap,
          probeBuckets = if (nSub > 1) None else Some(bkts),
          bandBuckets = nPart,
          shingleBuckets = nPart, bandSubBuckets = nSub,
          probeCells = cells, shingleSubBuckets = nSub).count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      val runs = (1 to 3).map(_ => once())
      val pairs = runs.head._1
      val wall = runs.map(_._2).min
      // verify-side readout: the candidate set via the operator's OWN
      // generator (Dedup.incrementalCandidates — shared code, so the
      // measurement cannot drift from the shipped path), its sbkt
      // footprint, and the shingle-store rows inside it — the rows the
      // verify join-back now reads instead of the whole store
      val cand = Dedup.incrementalCandidates(
        newBands, bandsSnap.filter(pruneFilter))
        .localCheckpoint(true)
      // the SHIPPED prune plan (Dedup.shingleProbePlan — shared code, so
      // the readout cannot drift from what the timed path reads)
      val (shCells, shFilter) = Dedup.shingleProbePlan(cand, nPart, nSub)
      val shFull = shSnap.count()
      val shProbed = shFilter.map(f => shSnap.filter(f).count()).getOrElse(0L)
      val layout = if (nSub > 1) s"$nPart x$nSub" else s"$nPart"
      println(f"$tag%-8s N=$layout%7s index=$indexRows%9d rows  probed=$probedRows%9d " +
        f"(${100.0 * probedRows / math.max(1L, indexRows)}%5.1f%%, $nProbedParts%3d/$nParts parts)  " +
        f"pairs=$pairs%2d  probe wall(min3)=$wall%6.2f s")
      println(f"${""}%-8s verify side: sh_store=$shFull%9d rows  sh_probed=$shProbed%9d " +
        f"(${100.0 * shProbed / math.max(1L, shFull)}%5.1f%%, ${shCells.length}%3d/$nParts parts, " +
        f"cands=${cand.count()}%d)")
    }

    side("1x", oneDir, Dedup.BandIndexBuckets)
    side("10x", tenDir, Dedup.BandIndexBuckets)
    // the capacity rule's N for the 10x index (500,000 docs x 16 bands
    // at sf0.1 x 10 = 800,000 band rows / 5,000 occupancy = 160)
    side("10x-ruled", tenDir,
      Dedup.autoBandBuckets(spark.read.parquet(tenDir).count() * 16L))
    // round-16 cap lift: the SAME 160 total partitions staged as the
    // TWO-LEVEL layout (16 x 10 — level one forced to the legacy 16 to
    // stand in for a corpus past the 4096 cap, where n1 saturates and
    // only sbb can grow). Exact pair-pruning over (pbkt, sbb) must read
    // the SAME rows the single-level 160 row reads — the cell id is the
    // same hash mod 160, only the directory structure differs — while
    // driver-side planning stays level-one-bounded.
    side("10x-2lvl", tenDir, Dedup.BandIndexBuckets, nSub = 10)
    spark.stop()
  }
}
