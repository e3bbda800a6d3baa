package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical scale validation of the SF-invariance claims (round-13
  * mandate): synthesize a ~10× corpus from sf0.1 — /root/testdata tops
  * out there — and measure t(10×)/t(1×) for one representative per
  * claim family, with the claimed-flat quantities (pair-domain size,
  * cell occupancy, monitor state) printed alongside so the exponent
  * can't hide a blow-up.
  *
  * Synthesis (deterministic, distribution-preserving):
  *  - orders ×10: fresh o_orderkey per replica (id + r·10¹⁰), DATES
  *    UNCHANGED — the Mann–Kendall day-pair domain must stay fixed
  *    while the data under it grows 10×.
  *  - documents ×10: fresh doc_id per replica, text unchanged — exact
  *    copies are the WORST case for the all-pairs control (its pair
  *    count should visibly blow up; that query is the one deliberately
  *    quadratic form).
  *  - embeddings ×10: [[Substrate.embeddings10x]], the rotated-replica
  *    copy.
  *
  * Families:
  *  - MK pair domain (q_mann_kendall_by_priority): day² pair count
  *    must be IDENTICAL at both scales; time grows only with the
  *    linear grouping pass under it.
  *  - SemDeDup cell-bounded quadratic: the paper's regime grows k with
  *    the corpus (n/k bounded). Probed on the throughput variant
  *    ([[graft.operators.IvfIndex.semDedupPairs]], double-precision
  *    assignment — the decimal chain in Clustering is the oracle
  *    REPLAY parameterization, k fixed at the verify SF): nLists
  *    8 → 80 as n grows 10×, per-cell occupancy flat, expect ~linear.
  *  - Conformal stream (q_conformal_stream, bench form): state is 3
  *    integers at any SF; expect ~linear in the scored pass + constant
  *    harness latency.
  *  - IVF-PQ hard negatives (q_hard_negatives_ivfpq): codes move, not
  *    embeddings; expect ~linear (train + encode dominate).
  *  - All-pairs Jaccard (q_allpairs_jaccard): the CONTROL — exact
  *    all-pairs with prefix filter SHOULD grow superlinearly; if it
  *    doesn't, the probe isn't measuring.
  */
object ProbeScale {

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft-scale10x"
    val spark = Substrate.session()

    def t(tag: String)(f: => Long): Double = {
      val t0 = System.nanoTime(); val n = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$tag%-44s $s%8.2f s  ($n rows)"); s
    }
    def q(name: String, dir: String): DataFrame =
      graft.Suite.resolve(Seq(name), benchForm = true).head(spark, dir)

    // ---- synthesize the 10× corpus (idempotent overwrite) --------------
    def rep(df: DataFrame, idCol: String): DataFrame =
      df.select(col("*"), Substrate.replicas)
        .withColumn(idCol, col(idCol) + col("__r") * Substrate.Off).drop("__r")
    println(s"== synthesizing ${Substrate.Reps}x corpus at $out from $base")
    rep(spark.read.parquet(s"$base/orders.parquet"), "o_orderkey")
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    rep(spark.read.parquet(s"$base/documents.parquet"), "doc_id")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    Substrate.embeddings10x(spark, base)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // ---- family 1: MK pair domain flat ---------------------------------
    def mkPairDomain(dir: String): Long =
      graft.sources.Tables.orders(spark, dir)
        .groupBy(col("o_orderpriority"), to_date(col("o_orderdate")))
        .agg(count(lit(1))).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("d"))
        .select(sum(col("d") * (col("d") - 1) / 2).cast("long")).head().getLong(0)
    val dom1 = mkPairDomain(base)
    val dom10 = mkPairDomain(out)
    println(s"MK pair domain: 1x=$dom1 10x=$dom10 flat=${dom1 == dom10}")
    val mk1 = t("q_mann_kendall_by_priority 1x")(q("q_mann_kendall_by_priority", base).count())
    val mk10 = t("q_mann_kendall_by_priority 10x")(q("q_mann_kendall_by_priority", out).count())

    // ---- family 2: SemDeDup, k grows with the corpus --------------------
    def semdedup(dir: String, nLists: Int): Long = {
      val emb = graft.sources.Tables.embeddings(spark, dir)
      val n = emb.count()
      println(s"  n=$n nLists=$nLists avg cell=${n / nLists}")
      graft.operators.IvfIndex.semDedupPairs(
        spark, emb, nLists = nLists, tau = 0.4, assignTo = 3).count()
    }
    val sd1 = t("semdedup cells 1x (nLists=8)")(semdedup(base, 8))
    val sd10 = t("semdedup cells 10x (nLists=80)")(semdedup(out, 80))

    // ---- family 3: conformal stream (state = 3 integers) ---------------
    val cf1 = t("q_conformal_stream 1x")(q("q_conformal_stream", base).count())
    val cf10 = t("q_conformal_stream 10x")(q("q_conformal_stream", out).count())

    // ---- family 4: IVF-PQ hard negatives (codes move) ------------------
    val hn1 = t("q_hard_negatives_ivfpq 1x")(q("q_hard_negatives_ivfpq", base).count())
    val hn10 = t("q_hard_negatives_ivfpq 10x")(q("q_hard_negatives_ivfpq", out).count())

    // ---- family 5: Bradley–Terry, blocks grow with the corpus ----------
    // The comparison quadratic is bounded by (source, block) occupancy;
    // the paper-regime scale path grows Blocks with the corpus — measured
    // here by re-deriving the matrix with blocks 8 → 80 so occupancy
    // stays flat while n grows 10×. The flat quantity is the per-cell
    // occupancy; the comparison count should grow ~linearly (not 100×).
    def btMatrix(dir: String, blocks: Int): Long = {
      val d = graft.sources.Tables.documents(spark, dir).select(
        col("lang"), col("source"), col("n_chars"),
        pmod(graft.functions.PortableHash.keyHash(col("doc_id")),
          lit(blocks.toLong)).as("blk"))
      val nDocs = d.count()
      val cells = d.groupBy(col("source"), col("blk")).agg(count(lit(1)).as("c"))
        .agg(avg(col("c"))).head().getDouble(0)
      val a = d.select(col("source"), col("blk"), col("lang").as("i"), col("n_chars").as("ca"))
      val b = d.select(col("source").as("s2"), col("blk").as("b2"),
        col("lang").as("j"), col("n_chars").as("cb"))
      val m = a.join(b, col("source") === col("s2") && col("blk") === col("b2") &&
          col("i") < col("j") && col("ca") =!= col("cb"))
        .groupBy(col("i"), col("j")).agg(count(lit(1)).as("n"))
      val pairs = m.agg(sum(col("n"))).head().getLong(0)
      println(f"  n=$nDocs docs, blocks=$blocks, avg cell=$cells%.1f, comparisons=$pairs")
      pairs
    }
    val bt1 = t("bradley-terry matrix 1x (blocks=8)")(btMatrix(base, 8))
    val bt10 = t("bradley-terry matrix 10x (blocks=80)")(btMatrix(out, 80))

    // ---- control: all-pairs Jaccard SHOULD grow superlinearly ----------
    val ap1 = t("q_allpairs_jaccard 1x (control)")(q("q_allpairs_jaccard", base).count())
    val ap10 = t("q_allpairs_jaccard 10x (control)")(q("q_allpairs_jaccard", out).count())

    println("== ratios t(10x)/t(1x)")
    println(f"  mann_kendall_by_priority ${mk10 / mk1}%6.2f  (pair domain flat: ${dom1 == dom10})")
    println(f"  semdedup (k grown 10x)   ${sd10 / sd1}%6.2f  (cell occupancy flat)")
    println(f"  conformal_stream         ${cf10 / cf1}%6.2f  (state = 3 integers)")
    println(f"  hard_negatives_ivfpq     ${hn10 / hn1}%6.2f  (16-byte codes move)")
    println(f"  bradley-terry (blocks 10x) ${bt10 / bt1}%6.2f  (cell occupancy flat)")
    println(f"  allpairs_jaccard CONTROL ${ap10 / ap1}%6.2f  (should be >> 10)")
    spark.stop()
  }
}
