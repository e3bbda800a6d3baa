package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Session
import graft.functions._
import graft.functions.VectorExpressions
import graft.functions.VectorExpressions.{minHashBandBuckets, sortedIntersectSize}

/** Deduplication for large text corpora — the training-data-pipeline side of
  * the engine. Exact dedup is a hash groupBy; near-dup goes through
  * MinHash+LSH banding so candidate generation is a bucket join, never an
  * O(n²) cross join. At 100 TB the only all-pairs work ever done is inside
  * an LSH bucket (or an explicit blocking key), both of which are bounded.
  *
  * Hot-path posture: shingles are hashed to longs once, then MinHash
  * signature + banding happen in ONE native codegen'd pass
  * ([[graft.functions.MinHashBandBuckets]]); candidate verification uses the
  * native two-pointer [[graft.functions.SortedIntersectSize]] kernel over
  * sorted hash sets instead of interpreted array built-ins.
  */
object Dedup {

  /** Exact duplicate groups by content hash: canonical id = min(doc_id),
    * membership count. `sha2` (not `hash`) so collisions are cryptographically
    * negligible and the fingerprint is portable. */
  def exactGroups(documents: DataFrame): DataFrame =
    documents
      .groupBy(sha2(col("text"), 256).as("text_sha"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
      .select(col("doc_id"), col("text_sha"), col("dup_count"))

  /** Exact dedup keeping the first writer per PK — the `ON CONFLICT DO
    * NOTHING` load analog (SURVEY §2.1 S5). */
  def dropDuplicatesByKey(df: DataFrame, pk: Seq[String]): DataFrame =
    df.dropDuplicates(pk)

  /** Snapshot compaction: keep exactly the newest row per key, newest defined
    * by `ordering` descending with the caller required to make it total (add
    * a unique tie-breaker). The CDC/upsert-log compaction shape — one
    * shuffle on the key, per-group state is a single row (`row_number`
    * stops at 1; no full-partition sort materialization beyond the window
    * shuffle Spark already needs). */
  def latestByKey(df: DataFrame, keys: Seq[String], ordering: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** `(doc_id, sh)` — each document's sorted shingle-hash set, spread
    * across the cluster and MATERIALIZED (`localCheckpoint`). Every
    * similarity consumer (MinHash banding, prefix filtering, and both
    * verification join-backs) branches from this one table; without the
    * checkpoint each DAG branch re-derives the HOF-heavy shingle chain from
    * the raw text (4+ full recomputes, and constraint inference even copies
    * the whole expression into scan-side null filters). At 100 TB this
    * compact integer table IS the similarity index — computing it once and
    * persisting it before multi-consumer candidate generation is the
    * standard design, not a local-mode workaround. */
  def shingleSets(documents: DataFrame, n: Int): DataFrame =
    // Widen.cpuWide, not bare repartition: this projection is consumed
    // through a localCheckpoint, and AQE's stage materialization was
    // measured fusing a bare repartition's compute onto the 1-task scan
    // side (the conformal-monitor finding, measured per job).
    // Two checkpoints are resident here (the widened RAW rows + this
    // projection) — bounded: the cpuWide gate only ever materializes
    // < p·maxPartitionBytes of raw rows (it returns wide scans
    // untouched), and Bench unpersists blocks between queries.
    shingleRows(Widen.cpuWide(documents), n).localCheckpoint(false)

  /** [[shingleSets]]'s projection alone: not widened, not checkpointed,
    * so its schema (the shingle table's) is known without a job. */
  def shingleRows(documents: DataFrame, n: Int): DataFrame =
    documents.select(col("doc_id"), sortedShingleHashes(col("text"), n).as("sh"))

  /** The same shingle set collapsed to sorted 64-bit hashes, after which
    * every downstream comparison (MinHash permutations, exact set
    * intersection) is integer work. One fused native pass
    * ([[graft.functions.ShingleHashes]]): per-token XXH64 → chained window
    * combine → sort+dedup, never materializing shingle strings. Collision
    * probability across a corpus's shingle inventory is ~|S|²/2⁶⁴ —
    * negligible. */
  def sortedShingleHashes(text: Column, n: Int): Column =
    VectorExpressions.shingleHashes(tokens(text), n)

  /** Exact Jaccard |A∩B|/|A∪B| over two SORTED distinct arrays, using the
    * native intersection-count kernel (|A∪B| = |A|+|B|−|A∩B|). */
  def sortedJaccard(a: Column, b: Column): Column = {
    val inter = sortedIntersectSize(a, b).cast(DoubleType)
    inter / (size(a).cast(DoubleType) + size(b).cast(DoubleType) - inter)
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * shingle(n words) → k-entry MinHash signature → `bands`×`rowsPerBand`
    * banding → explode band buckets → self-join on bucket (candidates) →
    * verify with *exact* shingle-set Jaccard ≥ `threshold`.
    *
    * Signature + banding are one fused native pass per document; only
    * candidate pairs (same band bucket) are verified, so the join is linear
    * in bucket occupancy, not quadratic in corpus size. With (bands=16, r=4)
    * the S-curve gives ≈99% recall at Jaccard 0.8 and ≈99% rejection below
    * 0.3.
    */
  def minHashNearDuplicates(
      documents: DataFrame,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.7): DataFrame =
    minHashNearDuplicatesUnsorted(documents, shingleSize, bands, rowsPerBand, threshold)
      .orderBy(col("doc_a"), col("doc_b"))

  /** [[minHashNearDuplicates]] without the final harness sort — for consumers
    * (recall checks, clustering) that aggregate or repartition anyway. */
  def minHashNearDuplicatesUnsorted(
      documents: DataFrame,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.7): DataFrame =
    minHashPairsFromShingles(shingleSets(documents, shingleSize), bands, rowsPerBand, threshold)

  /** MinHash banding + exact verification over a prebuilt `(doc_id, sh)`
    * shingle table ([[shingleSets]]) — callers that also run other
    * consumers over the same shingles (e.g. the prefix-filter ground truth)
    * share one materialized table instead of re-shingling per operator. */
  def minHashPairsFromShingles(
      shingleTable: DataFrame,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    val shingled = shingleTable.select(col("doc_id"), col("sh").as("shingles"))

    // Only (doc_id, band, bucket) rides the banding shuffle: carrying the
    // shingle arrays through the explode + both sides of the self-join
    // would replicate every document's array `bands`× through the exchange
    // (corpus bandwidth × bands at 100 TB). Candidates are deduplicated as
    // bare id pairs, then ONE join back to the compact (doc_id, shingles)
    // table per side feeds exact verification — arrays move 2×, not 2×bands.
    val banded = bandRows(shingleTable, bands, rowsPerBand)

    val candidates = banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

    candidates
      .join(shingled.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(shingled.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(sortedJaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** `(doc_id, band, bucket)` MinHash banding rows for a `(doc_id, sh)`
    * shingle table — the at-rest LSH INDEX. Banding a document reads only
    * that document's shingle set, so in production this compact integer
    * table is persisted (bucketed by `(band, bucket)`) and APPENDED to per
    * ingest batch; nothing about the rest of the corpus is touched when a
    * batch arrives. [[minHashPairsFromShingles]] derives it in-plan for
    * whole-corpus dedup; [[minHashIncrementalPairs]] joins a new batch
    * against a prebuilt one. */
  def bandRows(
      shingleTable: DataFrame, bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    shingleTable
      .select(col("doc_id"),
        posexplode(minHashBandBuckets(col("sh"), bands, rowsPerBand)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bucket"))

  /** Partition count for the at-rest band index layout ([[bandPartition]]).
    * Config-bounded: probe-side pruning collects at most this many values. */
  val BandIndexBuckets = 16

  /** The at-rest band index's partition key: `pmod(hash(band, bucket), n)`.
    * Writers partition the persisted [[bandRows]] table by this column so a
    * batch probe (equi-join on `(band, bucket)` ⇒ equal `pbkt`) prunes at
    * rest to the buckets the batch can actually hit — the same posture the
    * IVF cell layout proves for ANN ([[IndexRegistry]]). */
  def bandPartition(n: Int = BandIndexBuckets): Column =
    pmod(hash(col("band"), col("bucket")), lit(n))

  /** Capacity rule for the at-rest band layout — the autoNLists posture
    * applied to the band index: partitions sized to a fixed expected
    * row occupancy, so the probe's pruned fraction stays at the
    * trigger's bucket footprint instead of degenerating to the whole
    * index as the corpus grows. The probed-partition count for a batch
    * is min(N, |batch|·bands) in the worst case (each (band, bucket)
    * hashes to one partition), so with FIXED N = 16 a multi-document
    * trigger hits every partition — `Probe scale dedup_ingest`
    * measured the fixed layout probing 100% of a 10× index's rows for
    * a 4-doc trigger, vs 30.7% (49/160 partitions) under this rule's
    * N = 160 on the same index. At the shipped verify SFs the rule
    * returns the legacy 16 (80,000 band rows / 5,000 = 16 exactly), so
    * gate behavior is unchanged; growth past that re-tiers the layout.
    * Capped at 4096 so the probe-side distinct collect and per-trigger
    * append fan-out stay config-bounded. */
  val BandPartitionOccupancy: Long = 5000L

  /** The 4096 cap, quantified (it is a design choice, not a silent
    * constant): the cap bounds the probe-side distinct collect and the
    * per-trigger append fan-out at 4096 values/dirs — config-sized
    * driver work whatever the corpus. Its consequence: past ~20.5 M
    * band rows (4096 × 5000 occupancy) per-partition row counts grow
    * linearly with the corpus again — the probed FRACTION stays ≤
    * footprint/4096 (a 4-doc trigger probes ≤ 64/4096 ≈ 1.6% of
    * partitions), but each probed partition is corpus/4096 rows (at a
    * 10¹² band-row corpus, ~2.4 × 10⁸ rows ≈ a few GB per partition —
    * many Spark tasks, still a pruned scan). The remedy at that tier is
    * the SECOND partition level [[autoBandLayout]] ships (pbkt × sbb
    * under the same occupancy rule): the collect/fan-out bound stays
    * 4096 at level one and the probe plans both levels as one static
    * cell-id filter, so occupancy is restored past the cap. This
    * single-level rule remains the shipped default because every scale
    * this repo stages sits far below the cap; writers that expect to
    * cross it use the layout rule instead. */
  def autoBandBuckets(bandRowCount: Long): Int =
    math.min(4096L, math.max(BandIndexBuckets.toLong,
      (bandRowCount + BandPartitionOccupancy - 1) / BandPartitionOccupancy)).toInt

  /** The shared two-level decomposition both at-rest layouts build on:
    * with `c = pmod(h, n1·n2)`, level one is `c mod n1` (equal to the
    * single-level key `pmod(h, n1)` since `n1 | n1·n2`) and level two
    * is `c div n1` — `(level1, level2) ↔ c` a bijection, so exact
    * cell-id pruning over the pair reads what a single-level layout at
    * `n1·n2` partitions would. One implementation serves the band index
    * (h = hash(band, bucket)) and the shingle store (h = hash(doc_id));
    * a fix to the decomposition lands in both. */
  private def levelSub(h: Column, n1: Int, n2: Int): Column =
    (pmod(h, lit(n1 * n2)) / lit(n1)).cast("int")

  private def withTwoLevel(
      df: DataFrame, h: Column, n1: Int, n2: Int,
      c1: String, c2: String): DataFrame = {
    val one = df.withColumn(c1, pmod(h, lit(n1)))
    if (n2 > 1) one.withColumn(c2, levelSub(h, n1, n2)) else one
  }

  /** Two-level band layout `(n1, n2)` — the cap lift the [[autoBandBuckets]]
    * docstring names: level one keeps the 4096 collect/fan-out bound, level
    * two (`sbb`, a second partition directory) restores the occupancy rule
    * past it, so per-partition row counts stay ≤ [[BandPartitionOccupancy]]
    * at ANY corpus size. Decomposition: with `c = pmod(hash(band, bucket),
    * n1·n2)`, `pbkt = c mod n1` equals the single-level [[bandPartition]]
    * key EXACTLY (since `n1 | n1·n2`, `(h mod n1·n2) mod n1 = h mod n1`) and
    * `sbb = c div n1` — so `(pbkt, sbb) ↔ c` is a bijection and exact
    * pair-pruning over the two levels reads the SAME rows a single-level
    * layout at `n1·n2` partitions would, while driver-side planning stays
    * n1-bounded (≤ 4096 values; past-4096 cell batches fall back to the
    * level-1 prune, see [[minHashIncrementalPairsPreBanded]]). Below the
    * cap `n2 = 1` and the layout is byte-identical to today's single-level
    * store (no `sbb` column written) — gate behavior unchanged at every
    * verify SF.
    *
    * Level two is capped at 4096 as well — total ≤ 16.7 M partitions —
    * which holds the occupancy rule exactly up to ~8.4 × 10¹⁰ band rows
    * (4096² × 5000, ≈ 4000× the single-level cap point). Past THAT,
    * occupancy grows linearly again, and deliberately so: restoring
    * 5000-row occupancy at 10¹² rows would mean 2 × 10⁸ directories of
    * ~80 KB parquet — pathological small files — whereas the capped
    * layout reads ~60 k rows (~1 MB) per partition there, a sane at-rest
    * file size, still pair-pruned to the trigger's cell footprint
    * (≤ footprint/16.7 M of the index). The cap trades bounded file
    * counts for bounded occupancy exactly where file size, not partition
    * row count, becomes the binding constraint. */
  def autoBandLayout(bandRowCount: Long): (Int, Int) = {
    val needed = math.max(BandIndexBuckets.toLong,
      (bandRowCount + BandPartitionOccupancy - 1) / BandPartitionOccupancy)
    val n1 = math.min(4096L, needed).toInt
    val n2 = math.min(4096L, (needed + n1 - 1) / n1).toInt
    (n1, n2)
  }

  /** Level-two partition key for the two-level band layout
    * ([[autoBandLayout]]): `sbb = (pmod(hash(band, bucket), n1·n2)) div n1`,
    * the quotient of the combined cell id whose remainder is the unchanged
    * level-one [[bandPartition]] key. */
  def bandSubPartition(n1: Int, n2: Int): Column =
    levelSub(hash(col("band"), col("bucket")), n1, n2)

  /** Combined two-level cell id `c = sbb·n1 + pbkt = pmod(hash(band,
    * bucket), n1·n2)` — what probe planning collects and the at-rest scan's
    * partition filter tests ([[minHashIncrementalPairsPreBanded]]). */
  def bandCell(n1: Int, n2: Int): Column =
    pmod(hash(col("band"), col("bucket")), lit(n1 * n2))

  /** Add the at-rest band partition column(s) for layout `(n1, n2)`:
    * always `pbkt`, plus `sbb` when the layout is two-level. Writers
    * `partitionBy("pbkt")` or `partitionBy("pbkt", "sbb")` accordingly. */
  def withBandLayout(bandRows: DataFrame, n1: Int, n2: Int): DataFrame =
    withTwoLevel(bandRows, hash(col("band"), col("bucket")), n1, n2, "pbkt", "sbb")

  /** The at-rest SHINGLE store's partition key — the [[bandPartition]]
    * posture applied to the verify side: writers partition the persisted
    * `(doc_id, sh)` table by `sbkt = pmod(hash(doc_id), n)`, and the
    * exact-Jaccard verify join-back prunes at rest to the partitions the
    * trigger's CANDIDATE ids can hit ([[minHashIncrementalPairsPreBanded]]
    * plans the bucket list from the checkpointed candidate set — the
    * r15 ProbeShinglePrune finding was that Spark DPP does NOT fire on
    * this layout; the static isin plan below is the mechanism that
    * does work, exactly as it does for the band index probe). */
  def shinglePartition(id: Column, n: Int = BandIndexBuckets): Column =
    pmod(hash(id), lit(n))

  /** Two-level shingle-store keys — [[autoBandLayout]]'s decomposition
    * applied to the verify side (`ssb = cell div m1` with `sbkt = cell
    * mod m1` unchanged, `(sbkt, ssb) ↔ cell` a bijection): past the
    * 4096 cap a single-level store's probed PARTITION count stays
    * candidate-bounded but each partition's row count grows linearly
    * with the corpus — the same degeneration the band side's cap lift
    * fixed — so the second level restores doc-occupancy there too. The
    * probe plans both levels from the checkpointed candidate ids
    * (≤ 2·|candidates| cells — trigger-sized), and the existing
    * left-join + raise_error candidate guard already fails loud on any
    * layout mismatch: a wrong (m1, m2) prunes a candidate's partition
    * away and the guard names the missing doc. */
  def shingleCell(id: Column, m1: Int, m2: Int): Column =
    pmod(hash(id), lit(m1 * m2))

  /** Add the at-rest shingle partition column(s) for layout `(m1, m2)`:
    * always `sbkt`, plus `ssb` when two-level. */
  def withShingleLayout(shingles: DataFrame, m1: Int, m2: Int): DataFrame =
    withTwoLevel(shingles, hash(col("doc_id")), m1, m2, "sbkt", "ssb")

  /** Incremental MinHash near-dup: dedup an incoming batch against an
    * already-accepted corpus WITHOUT rescanning it — the shape a 100 TB
    * ingest pipeline actually runs (the whole-corpus self-join of
    * [[minHashNearDuplicates]] is the bootstrap, this is every batch after).
    *
    * Inputs are the batch's `(doc_id, sh)` shingles plus the corpus's
    * persisted index: [[bandRows]] banding rows and the compact shingle
    * table (both integer-only, both written once at accept time). Candidate
    * generation is two equi-joins — batch bands × index bands on
    * `(band, bucket)`, and the in-batch self-join — so per-batch cost is
    * `|batch| × bands` rows probing the index, independent of corpus text
    * size. Exact-Jaccard verification joins candidate ids back to the two
    * shingle tables; when the index shingles rest partitioned by
    * [[shinglePartition]] (`sbkt` column present), that join-back also
    * prunes at rest to the candidate ids' partitions — the scan is then
    * candidate-footprint-sized on BOTH index sides, not corpus-sized.
    * Doc-id spaces of batch and index must be disjoint (they are
    * successive ingest batches).
    *
    * Emits the same `(doc_a, doc_b, jaccard)` rows the full-corpus operator
    * would for every pair involving a batch document — banding is
    * per-document, so incremental ≡ full restricted to the batch
    * (property-tested in DedupSpec). */
  def minHashIncrementalPairs(
      newShingles: DataFrame,
      indexBanded: DataFrame,
      indexShingles: DataFrame,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.7,
      probeBuckets: Option[Seq[Int]] = None,
      bandBuckets: Int = BandIndexBuckets,
      shingleBuckets: Int = BandIndexBuckets,
      bandSubBuckets: Int = 1,
      shingleSubBuckets: Int = 1): DataFrame = {
    // When the index is the partitioned at-rest layout (has a pbkt
    // partition column, see [[bandPartition]]), plan the probe like the
    // IVF cell probe: push the batch's DISTINCT bucket hashes (bounded by
    // `bandBuckets` — the layout's partition count, capped by the
    // autoBandBuckets rule, never data-sized) as a static
    // isin partition filter, so the per-batch index scan prunes at rest to
    // the buckets the batch can actually hit. (DPP can't do this here:
    // shingleSets checkpoints the batch, which hides its selective filter
    // from the optimizer.) A caller that already knows the batch's bucket
    // set passes it via `probeBuckets` (the ingest stream reads it off the
    // partition dirs its own index append just created — zero extra jobs);
    // otherwise it costs one bounded collect, with the banded batch
    // checkpointed lazily so the MinHash permutations still run ONCE
    // across the bucket probe, the index join, and the in-batch self-join.
    // A caller that already materialized the batch's banding (the ingest
    // stream checkpoints it for its own index append) passes it as
    // `preBanded` so the permutations aren't recomputed here at all.
    minHashIncrementalPairsImpl(
      newShingles, bandRows(newShingles, bands, rowsPerBand),
      indexBanded, indexShingles, threshold, probeBuckets, bandBuckets,
      shingleBuckets, bandSubBuckets, shingleSubBuckets = shingleSubBuckets)
  }

  /** [[minHashIncrementalPairs]] with the batch's banding rows supplied by
    * the caller (`(doc_id, band, bucket)`, typically checkpointed) instead
    * of derived — one MinHash pass shared with the caller's index append. */
  def minHashIncrementalPairsPreBanded(
      newShingles: DataFrame,
      preBanded: DataFrame,
      indexBanded: DataFrame,
      indexShingles: DataFrame,
      threshold: Double = 0.7,
      probeBuckets: Option[Seq[Int]] = None,
      bandBuckets: Int = BandIndexBuckets,
      shingleBuckets: Int = BandIndexBuckets,
      bandSubBuckets: Int = 1,
      probeCells: Option[Seq[Int]] = None,
      shingleSubBuckets: Int = 1): DataFrame =
    minHashIncrementalPairsImpl(
      newShingles, preBanded.select(col("doc_id"), col("band"), col("bucket")),
      indexBanded, indexShingles, threshold, probeBuckets, bandBuckets,
      shingleBuckets, bandSubBuckets, probeCells, shingleSubBuckets)

  private def minHashIncrementalPairsImpl(
      newShingles: DataFrame,
      newBanded0: DataFrame,
      indexBanded: DataFrame,
      indexShingles: DataFrame,
      threshold: Double,
      probeBuckets: Option[Seq[Int]],
      bandBuckets: Int = BandIndexBuckets,
      shingleBuckets: Int = BandIndexBuckets,
      bandSubBuckets: Int = 1,
      probeCells: Option[Seq[Int]] = None,
      shingleSubBuckets: Int = 1): DataFrame = {
    val (newBanded, prunedIndex) =
      if (indexBanded.columns.contains("sbb")) {
        // Two-level at-rest layout ([[autoBandLayout]]): plan BOTH levels
        // from the batch's banding as one static partition filter on the
        // combined cell id — exact pair pruning, so the scan reads the
        // same rows a single-level layout at n1·n2 partitions would,
        // while every driver-side list stays ≤ 4096 values (a batch
        // whose cell footprint exceeds the bound falls back to the
        // level-1 prune, which is capped at n1 ≤ 4096 by construction).
        // A caller that passed the default bandSubBuckets = 1 against a
        // two-level store would plan cell ids in [0, n1) while the store
        // holds cells up to n1·n2 — every sbb ≥ 1 row would silently
        // prune away — so mismatched layout params fail loud instead.
        require(bandSubBuckets > 1,
          "minHashIncrementalPairs: the band index carries a two-level " +
            "layout (sbb column) — pass bandSubBuckets = the N2 it was " +
            "written with (autoBandLayout)")
        val (nb, cs) = probeCells match {
          case Some(cells) => (newBanded0, cells)
          case None =>
            val nb0 = newBanded0.localCheckpoint(false)
            val cells = nb0
              .select(bandCell(bandBuckets, bandSubBuckets).as("c"))
              .distinct().limit(4097).collect().map(_.getInt(0)).toSeq
            (nb0, cells)
        }
        val pruned =
          if (cs.length > 4096) {
            val bkts = nb.select(bandPartition(bandBuckets).as("pbkt"))
              .distinct().collect().map(_.getInt(0)).toSeq
            indexBanded.filter(col("pbkt").isin(bkts: _*))
          } else
            indexBanded.filter(
              (col("sbb") * lit(bandBuckets) + col("pbkt")).isin(cs: _*))
        (nb, guardBandLayout(pruned,
          bandCell(bandBuckets, bandSubBuckets) ===
            col("sbb") * lit(bandBuckets) + col("pbkt")))
      } else if (indexBanded.columns.contains("pbkt")) {
        val pruned = probeBuckets match {
          case Some(bkts) =>
            (newBanded0, indexBanded.filter(col("pbkt").isin(bkts: _*)))
          case None =>
            val nb = newBanded0.localCheckpoint(false)
            val bkts = nb.select(bandPartition(bandBuckets).as("pbkt")).distinct()
              .collect().map(_.getInt(0)).toSeq
            (nb, indexBanded.filter(col("pbkt").isin(bkts: _*)))
        }
        (pruned._1, guardBandLayout(pruned._2,
          bandPartition(bandBuckets) === col("pbkt")))
      } else (newBanded0, indexBanded)
    val candidates0 = incrementalCandidates(newBanded, prunedIndex)
    // At-rest shingle-store pruning (the r15 "next pressure point"):
    // when the index shingles rest partitioned by sbkt
    // ([[shinglePartition]]), the verify join-back prunes to the
    // partitions holding CANDIDATE ids. Candidate ids are not plannable
    // before the probe runs (the ProbeShinglePrune observation), so the
    // candidate set is checkpointed FIRST — it is trigger-footprint-
    // sized (the batch's near-dup partners, never the corpus) — and one
    // bounded collect ([[shingleProbePlan]]: ≤ 4096 values on either
    // level) plans the static isin partition filter, the same mechanism
    // the band-index probe uses (DPP does not fire on this layout; the
    // static plan does — recorded in tools/ProbeShinglePrune at 89034bd).
    val (candidates, idxShingles) =
      if (indexShingles.columns.contains("ssb")) {
        // Two-level store ([[withShingleLayout]]): both levels planned
        // from the candidate ids as one combined cell-id filter
        // ([[shingleProbePlan]] — trigger-sized, bounded). A wrong
        // (m1, m2) prunes a candidate's partition away and the
        // left-join guard below raises naming the missing doc, so no
        // extra fail-safe is needed on this branch.
        require(shingleSubBuckets > 1,
          "minHashIncrementalPairs: the shingle store carries a " +
            "two-level layout (ssb column) — pass shingleSubBuckets = " +
            "the M2 it was written with (withShingleLayout)")
        val c = candidates0.localCheckpoint(false)
        val pruned =
          shingleProbePlan(c, shingleBuckets, shingleSubBuckets) match {
            case None => indexShingles.limit(0)
            case Some(f) => indexShingles.filter(f)
          }
        (c, pruned.drop("sbkt", "ssb"))
      } else if (indexShingles.columns.contains("sbkt")) {
        val c = candidates0.localCheckpoint(false)
        val pruned = shingleProbePlan(c, shingleBuckets, 1) match {
          case None => indexShingles.limit(0)
          case Some(f) => indexShingles.filter(f)
        }
        (c, pruned.drop("sbkt"))
      } else (candidates0, indexShingles)
    // Verification join-back reads each side from whichever store holds it;
    // the union is by-name on the same (doc_id, sh) schema, and the id-equi
    // joins stay hash joins keyed on candidate ids.
    val shingled = newShingles.unionByName(idxShingles)
      .select(col("doc_id"), col("sh").as("shingles"))
    val prunedPath = indexShingles.columns.contains("sbkt")
    // Fail-safe on the pruned path: a `shingleBuckets` that does not
    // match the N the store was WRITTEN with would collect the wrong
    // sbkt values, the isin filter would keep the wrong partitions, and
    // an inner join-back would silently DROP true near-dup pairs. The
    // left join + raise_error turns that layout mismatch into a loud
    // analysis-time failure at the first affected candidate — map-side,
    // zero extra jobs (the unpruned path keeps the inner joins: every
    // id is a member of one of the two full stores by construction).
    def guarded(c: Column, id: Column): Column =
      when(c.isNull, raise_error(concat(
        lit("minHashIncrementalPairs: candidate doc "), id.cast("string"),
        lit(" missing from the pruned shingle store — does shingleBuckets" +
          " match the N the store was written with (shinglePartition)?"))))
        .otherwise(c)
    val joined =
      if (prunedPath)
        candidates
          .join(shingled.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")),
            Seq("doc_a"), "left")
          .join(shingled.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")),
            Seq("doc_b"), "left")
          .select(col("doc_a"), col("doc_b"),
            guarded(col("sh_a"), col("doc_a")).as("sh_a"),
            guarded(col("sh_b"), col("doc_b")).as("sh_b"))
      else
        candidates
          .join(shingled.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
          .join(shingled.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
    joined
      .select(col("doc_a"), col("doc_b"),
        round(sortedJaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Plan the shingle-store prune for a checkpointed candidate set:
    * the partition filter, or None when there are no candidates. It keeps
    * the candidates' combined cell ids for a two-level store (m2 > 1),
    * bounded at 4096 — a larger footprint falls back to the level-1 sbkt
    * prune, itself bounded by m1 ≤ 4096, the same discipline as the band
    * side — else the level-1 sbkt values (≤ min(2·|candidates|, m1)). */
  private def shingleProbePlan(
      candidates: DataFrame, m1: Int, m2: Int): Option[Column] = {
    val ids = candidates
      .select(explode(array(col("doc_a"), col("doc_b"))).as("__id"))
    def level1: Option[Column] = {
      val sbkts = ids.select(shinglePartition(col("__id"), m1).as("sbkt"))
        .distinct().collect().map(_.getInt(0)).toSeq
      if (sbkts.isEmpty) None else Some(col("sbkt").isin(sbkts: _*))
    }
    if (m2 > 1) {
      val cells = ids.select(shingleCell(col("__id"), m1, m2).as("cell"))
        .distinct().limit(4097).collect().map(_.getInt(0)).toSeq
      if (cells.length > 4096) level1
      else if (cells.isEmpty) None
      else Some((col("ssb") * lit(m1) + col("sbkt")).isin(cells: _*))
    } else level1
  }

  /** In-plan layout fail-safe for the pruned band-index scan: `check`
    * recomputes the partition key(s) from (band, bucket) with the
    * CALLER'S layout params and compares against the stored columns. A
    * caller whose (bandBuckets, bandSubBuckets) differ from what the
    * store was written with would otherwise collect cell ids in the
    * wrong ring — the isin filter keeps the wrong partitions and true
    * near-dup pairs silently vanish (they never reach the shingle
    * guard, which only sees surviving candidates). Attached to doc_id —
    * a column every downstream join reads, so the optimizer cannot
    * prune it — the mismatch raises loud at the first scanned row,
    * map-side, zero extra jobs. (A mismatched layout that prunes away
    * EVERY partition still yields silently-empty output — unavoidable
    * without a store-side manifest — but any surviving row fails the
    * recomputation with near certainty.) */
  private def guardBandLayout(pruned: DataFrame, check: Column): DataFrame =
    pruned.withColumn("doc_id",
      when(!check, raise_error(lit(
        "minHashIncrementalPairs: band index layout mismatch — do " +
          "(bandBuckets, bandSubBuckets) match what the store was " +
          "written with (autoBandLayout)?"))).otherwise(col("doc_id")))

  /** Candidate-pair generation for [[minHashIncrementalPairsImpl]]:
    * batch-vs-index equi-join on (band, bucket) plus the in-batch
    * self-join, deduplicated as bare id pairs. */
  private def incrementalCandidates(
      newBanded: DataFrame, prunedIndex: DataFrame): DataFrame = {
    val vsIndex = newBanded.alias("n")
      .join(prunedIndex.alias("i"),
        col("n.band") === col("i.band") && col("n.bucket") === col("i.bucket"))
      .select(least(col("n.doc_id"), col("i.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("i.doc_id")).as("doc_b"))
    val inBatch = newBanded.alias("a")
      .join(newBanded.alias("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    vsIndex.unionByName(inBatch).dropDuplicates("doc_a", "doc_b")
  }

  /** SimHash near-duplicates: 64-bit fingerprints, candidates via 4×16-bit
    * band buckets (any identical quarter ⇒ candidate, guaranteeing recall of
    * every pair with Hamming distance ≤ 3), verified by exact Hamming ≤
    * `maxHamming`. */
  def simHashNearDuplicates(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    hamming64BandedPairs(
      Widen.cpuWide(documents) // barrier form — see shingleSets
        .select(col("doc_id"), simHash64(tokens(col("text"))).as("simhash")),
      "doc_id", "simhash", maxHamming)

  /** Banded near-dup pairing over ANY 64-bit fingerprint column (SimHash,
    * perceptual hash, …): 4×16-bit band buckets generate candidates (every
    * pair at Hamming ≤ 3 shares at least one identical quarter by
    * pigeonhole — and identical fingerprints share all four), exact
    * `hamming64` verifies ≤ `maxHamming`. Same plan shape as the MinHash
    * banding: only (id, fp, band, bucket) rows ride the shuffle. */
  def hamming64BandedPairs(
      fingerprints: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int): DataFrame = {
    val fp = fingerprints.select(col(idCol).as("__id"), col(fpCol).as("__fp"))
    val banded = fp.withColumn(
      "band",
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("__fp"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bucket"))
      }: _*)))
      .select(col("__id"), col("__fp"), col("band.band"), col("band.bucket"))
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b,
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.__id") < col("b.__id"))
      .select(
        col("a.__id").as("doc_a"), col("b.__id").as("doc_b"),
        hamming64(col("a.__fp"), col("b.__fp")).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Exact token-set Jaccard similarity for all pairs inside a blocking key
    * (here: `source`). The blocked self-join is the classic record-linkage
    * shape: the quadratic term is bounded per block, and per-pair scoring is
    * the native two-pointer kernel over sorted token sets. */
  def blockedJaccardPairs(documents: DataFrame, threshold: Double): DataFrame =
    blockedJaccardPairsUnsorted(documents, threshold).orderBy(col("doc_a"), col("doc_b"))

  /** [[blockedJaccardPairs]] without the final harness sort — for consumers
    * (clustering) that immediately repartition anyway. */
  def blockedJaccardPairsUnsorted(documents: DataFrame, threshold: Double): DataFrame = {
    // Length prefilter (PPJoin-style): J(A,B) ≤ min|·|/max|·|, so a matching
    // pair's set sizes differ by at most ratio = 1/(threshold−0.01). That
    // bound is folded INTO the blocking key as a log_ratio size band:
    // sizes within ratio differ by ≤ 1 band, so scoring only same-or-
    // adjacent-band pairs loses nothing, while size-incompatible pairs
    // never reach the intersection loop — and a source block fans out
    // over many (source, band) keys instead of one skewed shuffle
    // partition per source.
    require(threshold > 0.02 && threshold <= 1.0,
      s"blockedJaccardPairs: threshold must be in (0.02, 1], got $threshold")
    val bandBase = math.log(1.0 / (threshold - 0.01))
    val tok = documents.select(
      col("doc_id"), col("source"),
      array_sort(transform(distinctTokens(col("text")), t => xxhash64(t))).as("toks"))
      .withColumn("sz", size(col("toks")).cast(DoubleType))
      .withColumn("band", floor(log(greatest(col("sz"), lit(1.0))) / lit(bandBase)))
    // Within-block scoring via the native exactly-once pair generator, not
    // a probe self-join: the (source, band) key domain is small, which
    // degenerates in SMJ (per-group replay), and the probe join moves each
    // token array 4× through the shuffle (3 probe copies + the build
    // side). Here each doc explodes into groups {band, band+1} (arrays
    // move 2×), one hash shuffle groups each (source, grp), and the
    // generator emits each qualifying pair exactly ONCE (min member band
    // == grp−1 rule — no dedup pass). The raw cutoff is loose by 1e-6;
    // the exact rounded threshold below keeps join-twin bit-parity.
    tok
      .select(col("doc_id"), col("source"), col("toks"), col("band"),
        explode(array(col("band"), col("band") + 1)).as("grp"))
      .groupBy(col("source"), col("grp"))
      .agg(collect_list(struct(col("doc_id"), col("toks"), col("band"))).as("members"))
      .select(graft.functions.PairGenerators
        .jaccardBandPairs(col("members"), col("grp"), threshold - 0.01, threshold - 1e-6)
        .as(Seq("doc_a", "doc_b", "jaccard")))
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT similarity self-join via AllPairs/PPJoin prefix filtering — the
    * complete (no-false-negative) counterpart to [[minHashNearDuplicates]],
    * and the in-plan ground truth its recall assertion is checked against.
    *
    * Theorem (prefix filter, Chaudhuri et al. SSJoin / Xiao et al. PPJoin):
    * under any global total order of set elements, two sets with
    * J(A,B) ≥ t must share at least one element among the first
    * |X| − ⌈t·|X|⌉ + 1 elements of EACH set. So exploding only that prefix
    * and joining on the shared element yields a complete candidate set —
    * linear in corpus size times prefix length, never |corpus|² — and exact
    * verification of candidates makes the result exact.
    *
    * Scale shape mirrors the MinHash banding join: only slim
    * `(id, size, prefix_hash)` rows ride the candidate exchange; full sets
    * are joined back once per side for verification. The size-ratio bound
    * (J ≥ t ⇒ |A|/|B| ∈ [t, 1/t]) is applied inside the candidate join so
    * incompatible pairs die before the dedup shuffle. Element order here is
    * the hash order (uniform-random ≈ random permutation); on a Zipfian
    * natural-language corpus the published refinement — order elements by
    * ascending global frequency so prefixes hold the RAREST elements — cuts
    * candidates further at the cost of a document-frequency join, and slots
    * into `sets` as a re-sort before calling this.
    *
    * @param sets (`idCol`, `setCol`) where `setCol` is a SORTED array of
    *             distinct 64-bit element hashes. Pass a MATERIALIZED,
    *             well-partitioned table ([[shingleSets]]) — this plan
    *             branches from `sets` three times (prefix explode + two
    *             verification join-backs), so an unmaterialized expensive
    *             projection would be recomputed per branch.
    */
  def prefixFilterPairs(
      sets: DataFrame,
      idCol: String,
      setCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefixFilterPairs: threshold must be in (0, 1], got $threshold")
    val spread = sets.select(col(idCol).as("__id"), col(setCol).as("__set"))
    val sized = spread.withColumn("__sz", size(col("__set")))
    // Prefix length |X| − ⌈t·|X|⌉ + 1 (≥ 1 even for singleton sets).
    val prefix = sized.select(
      col("__id"), col("__sz"),
      explode(slice(col("__set"), lit(1), prefixLen(col("__sz"), threshold))).as("__h"))
    verifyCandidates(prefix, spread, threshold)
  }

  /** [[prefixFilterPairs]] with the published AllPairs ordering refinement:
    * elements are re-ordered by ascending GLOBAL frequency (rarest first)
    * before prefix slicing. Any total order preserves completeness; the
    * FREQUENCY order makes prefixes hold each set's rarest elements, so on
    * a Zipfian corpus (where a few near-universal "stop shingles" would
    * otherwise land in hash-order prefixes and pay |bucket|² in the
    * candidate join) buckets stay small. Costs one document-frequency
    * aggregation plus a per-document rank window — both keyed shuffles —
    * on top of the base plan; candidate join and verification are
    * unchanged. Uniformly-distributed element sets don't need it (hash
    * order already behaves like a random permutation); corpora with skewed
    * element frequencies do. */
  def prefixFilterPairsRareFirst(
      sets: DataFrame,
      idCol: String,
      setCol: String,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefixFilterPairsRareFirst: threshold must be in (0, 1], got $threshold")
    val spread = sets.select(col(idCol).as("__id"), col(setCol).as("__set"))
    val exploded = spread.select(
      col("__id"), size(col("__set")).as("__sz"), explode(col("__set")).as("__h"))
    val dfreq = exploded.groupBy(col("__h")).agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy(col("__id")).orderBy(col("__df"), col("__h"))
    val prefix = exploded.join(dfreq, Seq("__h"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= prefixLen(col("__sz"), threshold))
      .select(col("__id"), col("__sz"), col("__h"))
    verifyCandidates(prefix, spread, threshold)
  }

  private def prefixLen(sz: Column, threshold: Double): Column =
    greatest(sz - ceil(sz * lit(threshold)).cast("int") + lit(1), lit(1))

  /** Shared tail of the prefix-filter variants: slim candidate self-join on
    * shared prefix elements (with the size-ratio bound applied in-join),
    * pair dedup, then ONE join back per side to the full sets for exact
    * verification. */
  private def verifyCandidates(
      prefix: DataFrame,
      spread: DataFrame,
      threshold: Double): DataFrame = {
    val candidates = prefix.alias("a")
      .join(prefix.alias("b"),
        col("a.__h") === col("b.__h") &&
          col("a.__id") < col("b.__id") &&
          col("a.__sz") * lit(threshold) <= col("b.__sz") &&
          col("b.__sz") * lit(threshold) <= col("a.__sz"))
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    candidates
      .join(spread.select(col("__id").as("doc_a"), col("__set").as("__set_a")), Seq("doc_a"))
      .join(spread.select(col("__id").as("doc_b"), col("__set").as("__set_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(sortedJaccard(col("__set_a"), col("__set_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD 2003 — the
    * MOSS local-fingerprinting algorithm): positional k-token-gram hashes,
    * then the minimum hash of every window of `w` consecutive gram hashes,
    * deduplicated per document.
    *
    * GUARANTEE (the winnowing theorem): any exact shared token substring of
    * length ≥ k + w − 1 produces a shared gram-hash run of length ≥ w on
    * both documents, some hash window lies entirely inside that run on both
    * sides, and both pick the same minimum — so substring-duplicate pairs
    * ALWAYS share a fingerprint. Expected fingerprint density is 2/(w+1) of
    * positions, so the index is a fraction of the brute-force
    * every-window table.
    *
    * This is the distributed substring-dedup recipe: the published exact
    * alternative (suffix arrays over the concatenated corpus — Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better") is a
    * single-node global structure, while winnowing shards embarrassingly —
    * per-document fingerprinting is map-side, and candidate generation is a
    * bucketed join on the fingerprint, never all-pairs. Unlike the SORTED
    * set hashes the Jaccard operators use, gram hashes here keep POSITIONAL
    * order — substring structure is what's being fingerprinted.
    *
    * CHOOSING k: the gram length is the selectivity knob, and it matters
    * quadratically. Every fingerprint bucket pays |bucket|² in the
    * candidate join, and a bucket collects every document whose winnow
    * pass picked that gram — so k must make k-grams RARE in the corpus's
    * vocabulary. Measured here: k=3 word-grams over a ~30-word vocabulary
    * put thousands of unrelated docs in shared buckets (~224k candidates
    * for 256 true pairs at sf0.1); k=5 with the same k+w−1 guarantee
    * length is collision-free on the same corpus. MOSS's published
    * defaults (k≈25-50 chars) encode the same rule.
    *
    * FORMULATION: the whole pass — positional gram hashes, sliding
    * min-per-window, dedup — is ONE native codegen kernel
    * ([[graft.functions.WinnowHashes]]), pure map-side scan work. The
    * "obvious" array-HOF formulation (`transform(sequence(…), i ->
    * array_min(slice(grams, i, w)))`) is catastrophically slower (84+ s
    * vs ~1 s at sf0.1): Spark evaluates higher-order functions
    * interpreted with NO loop-invariant hoisting, so the gram chain
    * re-derives per window position. */
  def winnowFingerprints(documents: DataFrame, k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowFingerprints: k and w must be ≥ 1, got k=$k w=$w")
    val toks = tokens(col("text"))
    // Docs shorter than the guarantee length carry no qualifying substring;
    // exact whole-doc dup of short docs is exactGroups' job.
    documents
      .filter(size(toks) >= k + w - 1)
      .select(col("doc_id"),
        explode(VectorExpressions.winnowHashes(toks, k, w)).as("fp"))
  }

  /** Substring-duplication candidate pairs: documents sharing any winnowing
    * fingerprint — COMPLETE for pairs sharing ≥ k+w−1 exact consecutive
    * tokens (winnowing theorem above). Only slim `(doc_id, fp)` rows ride
    * the candidate exchange; callers verify/score survivors as needed
    * (e.g. join back to texts for exact extent extraction). The
    * fingerprint table is MATERIALIZED before the self-join — both join
    * branches read it, and the per-document HOF fingerprint chain is the
    * expensive part (same multi-consumer rule as [[shingleSets]]). */
  def substringCandidatePairs(documents: DataFrame, k: Int = 5, w: Int = 4): DataFrame = {
    // widen BELOW the fingerprint projection (the old repartition sat
    // above it, so the winnowing itself ran at scan width — one task on
    // a single-file scan — before being spread for the join)
    val fp = winnowFingerprints(Widen.cpuWide(documents), k, w)
      .localCheckpoint(false)
    fp.alias("a")
      .join(fp.alias("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Embedding near-duplicates: cosine ≥ `threshold` pairs, candidates from
    * banded random-hyperplane LSH (OR-amplification across `bands`
    * signatures of `rowsPerBand` planes — see
    * [[Similarity.hyperplaneBands]]), verified by exact cosine.
    *
    * Unlike [[minHashNearDuplicates]], scoring happens IN the join
    * projection and vectors ride the banding exchange: here candidate
    * pairs vastly outnumber surviving pairs (hyperplane buckets are coarse)
    * and the per-pair dot is cheap codegen, so the cosine filter kills
    * ~99.99% of pairs BEFORE any further shuffle — a slim-join+join-back
    * would ship every candidate pair through two more exchanges instead
    * (measured 40% slower). The bandwidth trade flips when verification is
    * expensive and candidates are few (minhash's array intersections), so
    * each operator picks its own side. Norms are computed once per vector,
    * not once per pair; pair dedup moves (id, id, score) rows, never
    * vectors. */
  def embeddingNearDuplicates(
      embeddings: DataFrame,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.4): DataFrame =
    embeddingNearDuplicatesUnsorted(embeddings, bands, rowsPerBand, threshold)
      .orderBy(col("vec_a"), col("vec_b"))

  /** [[embeddingNearDuplicates]] without the final harness sort. */
  def embeddingNearDuplicatesUnsorted(
      embeddings: DataFrame,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.4): DataFrame =
    embeddingNearDupFromBase(
      Widen.cpuWide(embeddings) // barrier form — see shingleSets
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
        .localCheckpoint(false),
      bands, rowsPerBand, threshold)

  /** Banded-LSH near-dup over a prebuilt, MATERIALIZED `(vec_id, embedding,
    * nrm)` table — both sides of the bucket self-join branch from it, and
    * callers running other consumers (the brute-force recall twin) share
    * the same norms. */
  def embeddingNearDupFromBase(
      base: DataFrame,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.4): DataFrame = {
    val sig = base
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(Similarity.hyperplaneBands(col("embedding"), bands, rowsPerBand,
          dims = Similarity.deriveDims(base))).as("bb"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("bb.band"), col("bb.bucket"))
    // Within-bucket scoring via the native pair generator, not a self-join:
    // the (band, bucket) key domain is small (bands × 2^rowsPerBand), so a
    // sort-merge join replays each bucket per probe row. One hash shuffle
    // groups each bucket (bounded: OR-amplification keeps buckets at
    // |corpus| / 2^rowsPerBand per band), the generator scores i<j pairs in
    // a primitive loop and emits only survivors; the exact rounded
    // threshold re-applies below for bit-parity with the brute-force twin.
    sig
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(struct(col("vec_id"), col("embedding"), col("nrm"))).as("members"))
      .select(graft.functions.PairGenerators
        .cosinePairs(col("members"), threshold - 1e-6).as(Seq("vec_a", "vec_b", "cosine")))
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
      .dropDuplicates("vec_a", "vec_b")
  }

  /** |A∩B| / |A∪B| over (unsorted) array columns — exact, order-free.
    * Prefer [[sortedJaccard]] on hot paths. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) /
      size(array_union(a, b)).cast(DoubleType)

  /** Connected components over an undirected pair graph — turns
    * near-duplicate PAIRS into dedup CLUSTERS, so a curation pass can keep
    * one canonical document (the min id) per cluster. Returns
    * (v, cluster_id, cluster_size).
    *
    * Each iteration does (a) a neighbor-min step (join + min-agg: every
    * vertex adopts the smallest label in its closed neighborhood) and (b) a
    * pointer-jump step (label ← label(label)), which HALVES remaining path
    * lengths — so convergence is O(log diameter), not O(diameter). Without
    * (b), a 1000-doc near-dup chain (common in scraped corpora: each page a
    * near-copy of the previous) needs 1000 rounds; with it, ten. This is
    * the Hash-to-Min / pointer-doubling shape the large-graph CC literature
    * uses; at web scale the same rounds run as alternating
    * large-star/small-star contractions.
    *
    * The pair graph is orders of magnitude smaller than the corpus, so the
    * loop runs at a narrow fixed shuffle width instead of inheriting the
    * corpus-scan parallelism; the convergence check is a `limit(1).count`
    * probe, not a data collect. */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 25,
      loopShuffleWidth: Int = 0, driverMaxEdges: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    // ids normalized to long up front so both paths accept int-typed pair
    // columns and emit the same output schema
    val fwd = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .cache()
    val nPairs = fwd.count()
    // The pair graph is orders of magnitude smaller than the corpus (only
    // near-dup docs appear). When it fits comfortably on the driver
    // (default ≤1M edges — ~50 MB of collected tuples plus ~150 MB of
    // transient hash maps, well inside any realistic driver heap) solve it
    // there with union-find — the same bounded-driver-work pattern as the
    // IVF quantizer trainer: exact, deterministic, and O(E α(V)) instead
    // of O(log d) distributed rounds each paying join+agg fixed costs.
    // Beyond the cutoff, the distributed pointer-jumping loop takes over
    // with a shuffle width sized to the edge count (one partition per
    // ~250k directed edges, clamped to [4, session parallelism]);
    // `loopShuffleWidth > 0` both forces the loop and pins its width.
    if (loopShuffleWidth == 0 && nPairs <= driverMaxEdges) {
      try driverUnionFind(spark, fwd)
      finally fwd.unpersist()
    } else {
      val width =
        if (loopShuffleWidth > 0) loopShuffleWidth
        else math.max(4, math.min(spark.sparkContext.defaultParallelism,
          (nPairs * 2 / 250000L + 1).toInt))
      try Session.withConf(spark, "spark.sql.shuffle.partitions" -> width.toString) {
        connectedComponentsLoop(fwd, width, maxIter)
      } finally fwd.unpersist()
    }
  }

  /** Exact union-find (path compression + union by size) over a
    * driver-bounded pair list; canonical cluster id = min member id. */
  private def driverUnionFind(spark: org.apache.spark.sql.SparkSession, fwd: DataFrame): DataFrame = {
    import spark.implicits._
    val edges = fwd.as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    val rank = scala.collection.mutable.HashMap.empty[Long, Int]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // halve the path as we walk it
        x = parent(x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (ka, kb) = (rank.getOrElse(ra, 0), rank.getOrElse(rb, 0))
        if (ka < kb) parent(ra) = rb
        else if (kb < ka) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = ka + 1 }
      }
    }
    val byRoot = parent.keys.toSeq.groupBy(find)
    val rows = byRoot.valuesIterator.flatMap { members =>
      val cid = members.min
      val size = members.size.toLong
      members.iterator.map(v => (v, cid, size))
    }.toSeq
    import spark.implicits._
    rows.toDF("v", "cluster_id", "cluster_size")
  }

  private def connectedComponentsLoop(fwd: DataFrame, width: Int, maxIter: Int): DataFrame = {
    val edges = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(width, col("src")).cache()
    // localCheckpoint (not cache) each round: an iterative dataflow's
    // lineage otherwise grows by one join+agg per round and the plan —
    // re-analyzed, re-optimized, re-stringified every iteration — blows up
    // long before the data does. Checkpointing truncates lineage so every
    // round starts from a leaf.
    var labels = edges.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("label")).localCheckpoint(true)
    // Labels are monotone non-increasing, so Σlabel strictly decreases
    // until the fixpoint — comparing sums is a one-agg convergence check
    // (no join against the previous round needed).
    var prevSum = BigDecimal(labels.agg(sum(col("label")).cast("decimal(38,0)")).head.getDecimal(0))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // fresh aliases on BOTH columns: the union of a checkpointed frame
      // with a frame derived from it must not share attribute ids across
      // branches (constraint propagation resolves them into one map)
      val msgs = edges.join(labels, edges("src") === labels("v"))
        .select(col("dst").as("v"), col("label").as("label"))
      val nm = labels.select(col("v").as("v"), col("label").as("label")).unionByName(msgs)
        .groupBy(col("v")).agg(min(col("label")).as("label"))
      // pointer jump: adopt the label OF the label (labels only ever hold
      // ids inside the same component, so this stays within it; labels are
      // monotone non-increasing, so the fixpoint is the component min)
      val parents = nm.select(col("v").as("pv"), col("label").as("plabel"))
      val next = nm.alias("x")
        .join(parents, col("x.label") === col("pv"), "left")
        .select(
          col("x.v").as("v"),
          least(col("x.label"), coalesce(col("plabel"), col("x.label"))).as("label"))
        .localCheckpoint(true)
      val nextSum = BigDecimal(next.agg(sum(col("label")).cast("decimal(38,0)")).head.getDecimal(0))
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter iterations")
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    val out = labels.join(sizes, Seq("label"))
      .select(col("v"), col("label").as("cluster_id"), col("cluster_size"))
    edges.unpersist()
    out
  }
}
