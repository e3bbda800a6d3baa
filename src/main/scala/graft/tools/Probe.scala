package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Scratch, Session, Suite}
import graft.functions.{l2Norm, PortableHash}
import graft.operators.{Clustering, Dedup, Graph, IvfIndex, Pq, Preference, Similarity}
import graft.sources.{Staging, Tables}
import graft.streaming.{DedupIngest, SemDedupIngest}

/** One probe over the Bench suite: where a query's wall time goes, and
  * what plan it runs. Query names resolve exactly as in Bench
  * ([[Suite.resolve]], bench form, CartesianGuard armed).
  *
  *  - `run q…`: one untimed warm run, then three timed runs, each followed
  *    by Bench's unpersist. Prints each run's wall time, rows and job
  *    count, and the min; for the last run also every job (wall, tasks,
  *    description, and each stage's wall and summed task time), the total
  *    idle time between jobs, and every micro-batch's `durationMs`,
  *    state-commit ms, state rows and input rows.
  *  - `plan q…`: the formatted explain, then one execution, then the
  *    AQE-final executed plan with its Exchange / ReusedExchange / Scan
  *    counts. A `Stream` record has run its stream to completion by the
  *    time it returns a plan, so that plan reads the stream's sink; its
  *    micro-batches show up under `run`.
  *  - `scale [family…]`: the scale table ([[scale]]), every family when
  *    none is named: each family's t(10×)/t(1×) on a synthetic 10× copy
  *    of the table set, next to the quantity that must stay flat.
  *
  * Reads `SPARK_GRAFT_SF_DIR` and `SPARK_GRAFT_CPUS` with Bench's defaults.
  * Conf A/B runs set Spark's own JVM properties, e.g.
  * {{{
  * sbt 'set run / javaOptions += "-Dspark.sql.adaptive.enabled=false"' \
  *     "runMain graft.tools.Probe run q_louvain_rounds"
  * }}}
  */
object Probe {

  val TimedRuns = 3

  final case class Stage(id: Int, wallMs: Long, taskMs: Long, tasks: Int, name: String)

  final case class Job(id: Int, wallMs: Long, desc: String, stages: Seq[Stage]) {
    def tasks: Int = stages.map(_.tasks).sum
  }

  final case class Batch(query: String, id: Long, durationMs: Map[String, Long],
      stateCommitMs: Long, stateRows: Long, inputRows: Long)

  /** One run: wall time, result rows, its jobs, the run time during which
    * no job was running, and its stream micro-batches. */
  final case class Run(wallS: Double, rows: Long, jobs: Seq[Job], gapMs: Long,
      batches: Seq[Batch])

  final case class Record(name: String, warm: Run, runs: Seq[Run]) {
    def minS: Double = runs.map(_.wallS).min

    def lines: Seq[String] = {
      val perRun = runs.zipWithIndex.map { case (r, i) =>
        f"[probe] $name run ${i + 1}: wall ${r.wallS}%.3f s, ${r.rows} rows, ${r.jobs.size} jobs"
      }
      val last = runs.last
      val jobs = last.jobs.flatMap { j =>
        f"[probe]   job ${j.id}%5d ${j.wallMs}%6d ms ${j.tasks}%5d tasks  ${j.desc.take(160)}" +:
          j.stages.map(s => f"[probe]     stage ${s.id}%5d wall ${s.wallMs}%6d ms " +
            f"taskSum ${s.taskMs}%7d ms ${s.tasks}%4d tasks  ${s.name.take(100)}")
      }
      val batches = last.batches.map { b =>
        val d = b.durationMs.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")
        s"[probe]   batch ${b.query} ${b.id}: $d stateCommit=${b.stateCommitMs} " +
          s"stateRows=${b.stateRows} rows=${b.inputRows}"
      }
      perRun ++ Seq(f"[probe] $name min ${minS}%.3f s; last run:") ++ jobs ++
        Seq(s"[probe]   ${last.jobs.size} jobs, sum ${last.jobs.map(_.wallMs).sum} ms, " +
          s"gaps between jobs ${last.gapMs} ms") ++
        batches ++
        (if (last.batches.isEmpty) Nil
         else Seq(s"[probe]   ${last.batches.size} micro-batches, sum triggerExecution " +
           s"${last.batches.map(_.durationMs.getOrElse("triggerExecution", 0L)).sum} ms"))
    }
  }

  private final case class Started(at: Long, desc: String, stageIds: Seq[Int])

  /** The one job/stage listener and the one stream-progress listener. Read
    * only after [[ListenerBusDrain]]: both are fed asynchronously. */
  private final class Recorder(spark: SparkSession) {
    private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Started]()
    private val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
    private val batches = new ConcurrentLinkedQueue[Batch]()

    private val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.map(_.name).distinct.take(3).mkString("; "))
        starts.put(e.jobId, Started(e.time, desc, e.stageIds))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val wall = (for (a <- s.completionTime; b <- s.submissionTime) yield a - b).getOrElse(-1L)
        stages.put(s.stageId,
          Stage(s.stageId, wall, s.taskMetrics.executorRunTime, s.numTasks, s.name))
      }
    }
    private val streams = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        batches.add(Batch(Option(p.name).getOrElse(p.id.toString), p.batchId,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.commitTimeMs).sum, p.stateOperators.map(_.numRowsTotal).sum,
          p.numInputRows))
      }
    }
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)

    def clear(): Unit = {
      ListenerBusDrain(spark.sparkContext)
      starts.clear(); ends.clear(); stages.clear(); batches.clear()
    }

    /** Everything recorded since [[clear]], over the run window [t0, t1]
      * (listener clock, epoch ms). */
    def run(wallS: Double, rows: Long, t0: Long, t1: Long): Run = {
      val bs = streamBatches()
      val js = starts.asScala.toSeq.sortBy(_._1).map { case (id, s) =>
        Job(id, ends.asScala.get(id).map(_ - s.at).getOrElse(-1L), s.desc,
          s.stageIds.sorted.flatMap(i => Option(stages.get(i))))
      }
      val spans = starts.asScala.toSeq.map { case (id, s) =>
        (math.max(t0, s.at), math.min(t1, ends.asScala.getOrElse(id, t1)))
      }.filter { case (a, b) => b > a }.sorted
      val busy = spans.foldLeft((0L, t0)) { case ((sum, reach), (a, b)) =>
        if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
      }._1
      Run(wallS, rows, js, (t1 - t0) - busy, bs)
    }

    /** Every micro-batch recorded since [[clear]]. */
    def streamBatches(): Seq[Batch] = {
      ListenerBusDrain(spark.sparkContext)
      batches.asScala.toSeq.sortBy(b => (b.query, b.id))
    }

    def detach(): Unit = {
      spark.streams.removeListener(streams)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  /** One warm run, then [[TimedRuns]] timed runs of `query` over `dir`. */
  def run(spark: SparkSession, query: Suite.Resolved, dir: String): Record = {
    val rec = new Recorder(spark)
    def once(): Run = {
      rec.clear()
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val rows = query(spark, dir).count()
      val wallS = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      Suite.release(spark)
      rec.run(wallS, rows, t0, t1)
    }
    try {
      val warm = once()
      Record(query.name, warm, Seq.fill(TimedRuns)(once()))
    } finally rec.detach()
  }

  /** The formatted explain of `query` over `dir`, then — after one
    * execution — its AQE-final executed plan and node counts. */
  def plan(spark: SparkSession, query: Suite.Resolved, dir: String): String = {
    val qe = query(spark, dir).queryExecution
    val explain = qe.explainString(FormattedMode)
    SQLExecution.withNewExecutionId(qe, Some(s"probe plan ${query.name}")) {
      qe.executedPlan.execute().foreach(_ => ())
    }
    Suite.release(spark)
    val executed = qe.executedPlan.toString
    def count(re: String): Int = re.r.findAllIn(executed).size
    s"""=== ${query.name} (${query.kind}, sf=$dir) ===
       |$explain
       |=== executed (AQE final) ===
       |$executed
       |Exchange nodes: ${count("(?m)^.*Exchange")}
       |ReusedExchange nodes: ${count("ReusedExchange")}
       |Scan nodes: ${count("FileScan|Scan parquet")}
       |""".stripMargin
  }


  // ---------------------------------------------------------------- scale --

  /** Timed runs per scale side; the min is reported. */
  val ScaleRuns = 2

  /** Replica id offset, beyond any real id. */
  private val Off = 10000000000L

  /** One side of a scale family: its input rows, and the measured body,
    * which returns the family's flat quantity. */
  private final case class Side(rows: Long, body: () => Double)

  /** A measured side: input rows, flat quantity, min wall seconds. */
  final case class Measured(rows: Long, flat: Double, minS: Double)

  final case class Scaled(family: String, quantity: String, one: Measured, ten: Measured) {
    def ratio: Double = ten.minS / one.minS

    def lines: Seq[String] = {
      def q(v: Double) = if (v == math.rint(v)) f"$v%.0f" else f"$v%.3f"
      Seq(one -> "1x", ten -> "10x").map { case (m, tag) =>
        f"[scale] $family%-16s $tag%-3s rows ${m.rows}%9d  min ${m.minS}%7.2f s  " +
          s"$quantity ${q(m.flat)}"
      } :+ (f"[scale] $family%-16s t(10x)/t(1x) $ratio%.2f  " +
        s"$quantity ${q(one.flat)} -> ${q(ten.flat)}")
    }
  }

  /** The base table set and the synthetic corpora built from it, each
    * staged at most once per JVM through [[Staging]], which deletes them
    * at exit. Replica r of a row gets id + r·[[Off]]:
    *  - orders keep their dates, so the Mann–Kendall day-pair domain stays
    *    fixed while the rows under it grow;
    *  - documents keep their text (exact copies, the all-pairs control's
    *    worst case);
    *  - embeddings rotate left by r places, which keeps the norm and the
    *    marginal distribution and makes replicas near-orthogonal: fresh
    *    draws, not planted near-duplicate cliques;
    *  - tagged documents prefix every token with `r<r>_`, a bijection on
    *    3-token shingles: each replica's near-duplicate structure is the
    *    original's and cross-replica shingle sets are disjoint, so r
    *    replicas carry exactly r× the near-duplicate pairs. */
  private final class Corpus(val spark: SparkSession, val base: String) {
    private def replicas(reps: Int) = explode(typedLit((0 until reps).toArray)).as("r")
    private val r = col("r")

    /** A table-set dir whose `table` holds `reps` replicas of the base rows. */
    def tables(table: String, reps: Int): String =
      if (reps == 1) base
      else Staging.dir(s"scale$reps-$table", base) { d =>
        val df = spark.read.parquet(s"$base/$table.parquet").select(col("*"), replicas(reps))
        val out = table match {
          case "orders" => df.withColumn("o_orderkey", col("o_orderkey") + r * Off)
          case "documents" => df.withColumn("doc_id", col("doc_id") + r * Off)
          case "embeddings" => df.withColumn("vec_id", col("vec_id") + r * Off)
            .withColumn("embedding", concat(
              slice(col("embedding"), r + 1, size(col("embedding")) - r),
              slice(col("embedding"), lit(1), r)))
        }
        out.drop("r").write.parquet(s"$d/$table.parquet")
      }.toString

    /** `text` with every token prefixed by `r<rep>_`. */
    def tag(text: Column, rep: Column): Column =
      array_join(transform(split(text, " "),
        t => concat(lit("r"), rep.cast("string"), lit("_"), t)), " ")

    /** (doc_id, text) of `reps` tagged replicas of the base documents. */
    def tagged(reps: Int): DataFrame = spark.read.parquet(
      Staging.dir(s"scale-tagged$reps", base) { d =>
        Tables.documents(spark, base).select(col("doc_id"), col("text"), replicas(reps))
          .select((col("doc_id") + r * Off).as("doc_id"), tag(col("text"), r).as("text"))
          .write.parquet(s"$d/docs")
      }.toString + "/docs")

    /** `reps` × 2,000 vectors around 40 fixed Gaussian centers in 64 dims
      * (σ = 0.35 against an inter-center distance near 11), equal mass:
      * growth adds points per center, not centers. Noise is a Box–Muller
      * transform of two hash uniforms, so it replays bit-identically. */
    def clustered(reps: Int): DataFrame = spark.read.parquet(
      Staging.dir(s"scale-clustered$reps", base) { d =>
        val rnd = new scala.util.Random(4242)
        val centers = typedLit(Seq.fill(40)(Seq.fill(64)(rnd.nextGaussian().toFloat)))
        def u01(seed: Column, salt: Int) =
          (pmod(xxhash64(seed, lit(salt)), lit(1048576L)).cast("double") + 0.5) / 1048576.0
        def gauss(seed: Column) =
          sqrt(lit(-2.0) * log(u01(seed, 104729))) *
            cos(lit(2 * math.Pi) * u01(seed, 104729 + 7919))
        val cIdx = pmod(col("id"), lit(40L)).cast("int")
        spark.range(2000L * reps).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)), i =>
            (element_at(element_at(centers, cIdx + 1), i + 1).cast("double") +
              lit(0.35) * gauss(col("id") * 64 + i)).cast("float")).as("embedding"),
          cIdx.as("label"))
          .write.parquet(s"$d/emb")
      }.toString + "/emb")

    def query(name: String, dir: String): DataFrame =
      Suite.resolve(Seq(name), benchForm = true).head(spark, dir)
  }

  /** The q_louvain_rounds chain over `edges` (a, b): 3 label-propagation
    * rounds, 3 refinement rounds and the modularity fold. Returns the edge
    * count, the chain's cost driver. */
  private def community(edges0: DataFrame, nodes: DataFrame): Double = {
    val edges = edges0.localCheckpoint(false)
    val lpa = Graph.labelPropagation(nodes, edges, iters = 3).localCheckpoint(false)
    Graph.modularity(Graph.refineCommunitiesRounds(lpa, edges, rounds = 3), edges).collect()
    edges.count().toDouble
  }

  private final case class Family(name: String, quantity: String, side: (Corpus, Int) => Side)

  /** One row per scale claim: the family, the quantity that must stay
    * flat (or, for the control, must blow up) and the side at 1 or 10
    * replicas. Untimed set-up (staging, index builds) happens in `side`. */
  private val families: Seq[Family] = Seq(
    Family("mk", "day-pair domain", (c, reps) => {
      val dir = c.tables("orders", reps)
      val orders = Tables.orders(c.spark, dir)
      val domain = orders.groupBy(col("o_orderpriority"), to_date(col("o_orderdate")))
        .agg(count(lit(1))).groupBy(col("o_orderpriority")).agg(count(lit(1)).as("d"))
        .select(sum(col("d") * (col("d") - 1) / 2).cast("long")).head().getLong(0)
      Side(orders.count(), () => {
        c.query("q_mann_kendall_by_priority", dir).count(); domain.toDouble
      })
    }),
    Family("semdedup", "vectors per cell", (c, reps) => {
      val emb = Tables.embeddings(c.spark, c.tables("embeddings", reps))
      val n = emb.count()
      Side(n, () => {
        IvfIndex.semDedupPairs(c.spark, emb, nLists = 8 * reps, tau = 0.4, assignTo = 3).count()
        n / (8.0 * reps)
      })
    }),
    Family("conformal", "state rows", (c, reps) => {
      val dir = c.tables("documents", reps)
      Side(Tables.documents(c.spark, dir).count(), () => {
        val rec = new Recorder(c.spark)
        try {
          rec.clear()
          c.query("q_conformal_stream", dir).count()
          val bs = rec.streamBatches()
          require(bs.nonEmpty, "q_conformal_stream ran no micro-batch")
          bs.map(_.stateRows).max.toDouble
        } finally rec.detach()
      })
    }),
    Family("ivfpq_mining", "vectors per list", (c, reps) => {
      val emb = Tables.embeddings(c.spark, c.tables("embeddings", reps))
      val n = emb.count()
      val nl = IvfIndex.autoNLists(n)
      val built = Pq.buildIvfPq(c.spark, emb, dims = 64, nLists = nl, m = 16, ksub = 64,
        knownTotal = Some(n))
      val idx = Pq.IvfPqIndex(built.encoded.localCheckpoint(true), built.ivfCents, built.cb)
      val labels = emb.select(col("vec_id"), col("label"))
      Side(n, () => {
        Pq.hardNegativesIvfPq(idx, labels, emb, k = 3, nProbe = IvfIndex.autoNProbe(nl)).count()
        n.toDouble / nl
      })
    }),
    Family("bradley_terry", "docs per cell", (c, reps) => {
      val docs = Tables.documents(c.spark, c.tables("documents", reps))
      val blocks = Preference.Blocks * reps
      val cell = docs.groupBy(col("source"),
          pmod(PortableHash.keyHash(col("doc_id")), lit(blocks.toLong)))
        .agg(count(lit(1)).as("c")).agg(avg(col("c"))).head().getDouble(0)
      Side(docs.count(), () => {
        Preference.winMatrix(docs, byRegime = false, blocks = blocks).agg(sum(col("n"))).head()
        cell
      })
    }),
    Family("allpairs", "pairs (control, must grow past 10x)", (c, reps) => {
      val dir = c.tables("documents", reps)
      Side(Tables.documents(c.spark, dir).count(),
        () => c.query("q_allpairs_jaccard", dir).count().toDouble)
    }),
    Family("semdedup_ingest", "index rows probed", (c, reps) => {
      val s = c.spark
      val emb = Clustering.cleanVectors(Tables.embeddings(s, c.tables("embeddings", reps)))
      val cents = Clustering.kmeans(emb, k = 8 * reps)
      val index = new java.io.File(Staging.dir(s"scale-semidx$reps", c.base) { d =>
        Clustering.assign(emb, cents)
          .select(col("cl"), col("vec_id"), col("v"), l2Norm(col("v")).as("nrm"))
          .repartition(col("cl")).write.partitionBy("cl").parquet(s"$d/index")
      }, "index")
      // the trigger: 8 base vectors under fresh ids, the same on both sides
      val trigger = Tables.embeddings(s, c.base).filter(col("vec_id") < 8)
        .select((col("vec_id") + 99L * Off).as("vec_id"), col("embedding")).localCheckpoint(true)
      val tau = Clustering.SemDedupTau
      val cells = SemDedupIngest.batchPairs(s, trigger, cents, index, tau)._1
        .select(col("cl")).distinct().collect().map(_.getInt(0)).toSeq
      val probed =
        s.read.parquet(SemDedupIngest.cellFiles(index, cells).map(_.toString): _*).count()
      Side(s.read.parquet(index.toString).count(), () => {
        SemDedupIngest.batchPairs(s, trigger, cents, index, tau)._2.count(); probed.toDouble
      })
    }),
    Family("dedup_ingest", "pairs", (c, reps) => {
      val docs = c.tagged(reps)
      val n = docs.count()
      val (nPart, nSub) = Dedup.autoBandLayout(n * 16L)
      val (bandCols, shCols) = DedupIngest.partitionCols(nSub)
      val index = Staging.dir(s"scale-bandidx$reps", c.base) { d =>
        val sh = Dedup.shingleSets(docs, n = 3)
        Dedup.withBandLayout(Dedup.bandRows(sh), nPart, nSub).repartition(bandCols.map(col): _*)
          .write.partitionBy(bandCols: _*).parquet(s"$d/bands")
        Dedup.withShingleLayout(sh, nPart, nSub).repartition(shCols.map(col): _*)
          .write.partitionBy(shCols: _*).parquet(s"$d/shingles")
      }
      val bands = c.spark.read.parquet(s"$index/bands")
      val shingles = c.spark.read.parquet(s"$index/shingles")
      // the trigger: 4 replica-0 documents under fresh ids with their last
      // token dropped, near-duplicates of their at-rest originals
      val toks = split(col("text"), " ")
      val trigger = c.tagged(1).filter(col("doc_id") < 4)
        .select((col("doc_id") + 99L * Off).as("doc_id"),
          array_join(slice(toks, lit(1), greatest(size(toks) - 1, lit(1))), " ").as("text"))
        .localCheckpoint(true)
      Side(n, () =>
        DedupIngest.triggerPairs(trigger, bands, shingles, nPart, nSub)._3.count().toDouble)
    }),
    Family("graph", "edges", (c, reps) => {
      val emb = Tables.embeddings(c.spark, c.tables("embeddings", reps))
      Side(emb.count(), () => community(
        IvfIndex.semDedupPairs(c.spark, emb, nLists = 8 * reps, tau = Clustering.SemDedupTau,
          assignTo = 2).select(col("vec_a").as("a"), col("vec_b").as("b")),
        Clustering.cleanVectors(emb).select(col("vec_id").as("v"))))
    }),
    Family("graph_text", "edges per 1,000 docs", (c, reps) => {
      val docs = c.tagged(reps)
      val n = docs.count()
      Side(n, () => 1000 * community(
        Dedup.minHashPairsFromShingles(Dedup.shingleSets(docs, n = 3))
          .select(col("doc_a").as("a"), col("doc_b").as("b")),
        docs.select(col("doc_id").as("v"))) / n)
    }),
    Family("ivf_clustered", "IVF-PQ recall@3 at the ruled nProbe", (c, reps) => {
      val s = c.spark
      val emb = c.clustered(reps).localCheckpoint(true)
      val n = emb.count()
      val nl = IvfIndex.autoNLists(n)
      val built = Pq.buildIvfPq(s, emb, dims = 64, nLists = nl, m = 16, ksub = 64,
        knownTotal = Some(n))
      val idx = Pq.IvfPqIndex(built.encoded.localCheckpoint(true), built.ivfCents, built.cb)
      // about 64 queries at every size: the exact twin stays linear in n
      val qs = emb.filter(pmod(xxhash64(col("vec_id")), lit(1000L)) < math.max(1L, 64000L / n))
        .localCheckpoint(true)
      val exact = Similarity.bruteForceKnn(qs, emb, k = 3)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
      Side(n, () => {
        val hits = Pq.ivfPqSearch(idx, qs, k = 3, nProbe = IvfIndex.autoNProbe(nl))
          .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
        exact.join(hits, Seq("query_id", "neighbor_id"), "left")
          .agg(avg(coalesce(col("hit"), lit(0L)))).head().getDouble(0)
      })
    }))

  private val ScaleFamilies: Seq[String] = families.map(_.name)

  /** Each named family (all when `names` is empty) over the base table set
    * in `base` and its 10× copy: both sides set up, then timed `runs`
    * times. Throws `IllegalArgumentException` naming every unknown family
    * before any job runs. */
  def scale(spark: SparkSession, base: String, names: Seq[String],
      runs: Int = ScaleRuns): Seq[Scaled] = {
    val unknown = names.filterNot(ScaleFamilies.contains).distinct
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown scale families: ${unknown.mkString(", ")}; " +
          s"known: ${ScaleFamilies.mkString(", ")}")
    val corpus = new Corpus(spark, base)
    families.filter(f => names.isEmpty || names.contains(f.name)).map { f =>
      def measure(reps: Int): Measured = {
        val side = f.side(corpus, reps)
        val timed = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          val flat = side.body()
          ((System.nanoTime() - t0) / 1e9, flat)
        }
        Suite.release(spark)
        Measured(side.rows, timed.head._2, timed.map(_._1).min)
      }
      val scaled = Scaled(f.name, f.quantity, measure(1), measure(10))
      scaled.lines.foreach(println)
      scaled
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe run|plan <query>... | Probe scale [family...]"
    require(args.nonEmpty && Set("run", "plan", "scale")(args(0)), usage)
    require(args(0) == "scale" || args.length >= 2, usage)
    val queries = if (args(0) == "scale") Nil else Suite.resolve(args.tail.toSeq, benchForm = true)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.builder(cpus)
      .config(Scratch.tmpfs().map("spark.local.dir" -> _).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (args(0) == "scale") scale(spark, dir, args.tail.toSeq)
      else queries.foreach { q =>
        if (args(0) == "run") run(spark, q, dir).lines.foreach(println)
        else print(plan(spark, q, dir))
      }
    } finally spark.stop()
  }
}
