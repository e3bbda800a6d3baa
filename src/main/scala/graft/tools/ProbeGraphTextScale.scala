package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph}

/** The community family measured on a substrate whose EDGE growth is
  * controlled — the r14 verdict's primary ask, which the embedding
  * substrate could not deliver (at τ = 0.3 on near-uniform vectors,
  * chance pairs make a 10× corpus genuinely carry ~30× edges; see the
  * per-edge isolation in [[ProbeGraphScale]]). The token-tagged text
  * substrate of [[ProbeDedupIngestScale]] HOLDS the near-dup rate by
  * construction (cross-replica Jaccard is exactly 0), so 10× docs ⇒
  * exactly 10× MinHash near-dup edges, and the wall ratio reads
  * directly as "10× data AND 10× edges → ×?".
  *
  * Chain timed (min-of-2): MinHash pair generation over the corpus,
  * 3 LPA rounds, 3 mutual-best refinement rounds, one exact modularity
  * fold — the q_louvain_rounds shape with the text near-dup graph as
  * its edge source. */
object ProbeGraphTextScale {

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Substrate.session()

    // held-rate substrates, shared with ProbeDedupIngestScale
    val (oneDir, tenDir) = Substrate.stageTaggedDocs(spark, base, Substrate.Work)

    def side(tag: String, dir: String): (Double, Long) = {
      val docs = spark.read.parquet(dir)
      val n = docs.count()
      def once(): (Long, Double, Double) = {
        val t0 = System.nanoTime()
        val edges = Dedup
          .minHashPairsFromShingles(Dedup.shingleSets(docs, n = 3))
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
          .localCheckpoint(false)
        val nodes = docs.select(col("doc_id").as("v"))
        val lpa = Graph.labelPropagation(nodes, edges, iters = 3)
          .localCheckpoint(false)
        val refined = Graph.refineCommunitiesRounds(lpa, edges, rounds = 3)
        val m = edges.count()
        val q = Graph.modularity(refined, edges).collect()(0)
        ((System.nanoTime() - t0) / 1e9, m, q.getAs[Double]("modularity")) match {
          case (w, mm, qq) => (mm, qq, w)
        }
      }
      val runs = (1 to 2).map(_ => once())
      val (m, q, _) = runs.head
      val wall = runs.map(_._3).min
      println(f"$tag%-4s n=$n%6d edges=$m%8d refined Q=$q%8.6f  wall(min2)=$wall%7.2f s  " +
        f"per-Medge=${1e6 * wall / math.max(1L, m)}%7.1f s")
      (wall, m)
    }

    val (w1, e1) = side("1x", oneDir)
    val (w10, e10) = side("10x", tenDir)
    println(f"text-graph community family: edges grew ${e10.toDouble / e1}%.2fx (held rate), " +
      f"wall grew ${w10 / w1}%.2fx — the controlled-edge-growth reading of the r14 exponent")
    spark.stop()
  }
}
