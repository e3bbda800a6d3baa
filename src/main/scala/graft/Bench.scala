package graft
import java.nio.file.{Files, Paths}

import graft.contract.Contract

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // GRAFT_ONLY=q_a,q_b restricts the suite — fast iteration on one query.
    // Resolved before the session starts: an unknown name throws instead
    // of timing a smaller suite.
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").toSeq)
    // Bench times each record's operator-only benchPlan where it has one
    // (the self-asserting entries whose contract plan carries an O(n²)
    // verification twin); Verify keeps the hash-verified plans. Every
    // benched plan runs with the CartesianGuard armed (Suite.resolve): NO
    // query on the bench path may nested-loop two large relations — a
    // structural guarantee, not a reviewed one.
    val suite = Suite.resolve(only.getOrElse(Nil), benchForm = true)
    val guardBytes = sys.env.getOrElse("GRAFT_GUARD_BYTES", Suite.DefaultGuardBytes)
    val spark = Session.builder(cpus)
      .config(Scratch.tmpfs().map("spark.local.dir" -> _).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warm-up: the first measured query otherwise absorbs
    // one-time class-loading, Janino compilation, and FS init costs.
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .limit(1000).groupBy("l_returnflag").count().collect()
    } catch { case _: Throwable => () }
    // Best-of-2 per query: the second run reuses the codegen cache, so the
    // min is the steady-state cost — one-time Janino compilation amortizes
    // to zero on a long-running engine, and best-of-N also damps
    // machine-load noise. Runs are interleaved (full pass 1, full pass 2)
    // so a transient load spike cannot inflate both samples of a query.
    def pass(): Map[String, Double] = suite.map { query =>
      val name = query.name
      val t0 = System.nanoTime()
      // Failures must be LOUD: a swallowed error records a near-zero time
      // that reads as a win (a guard violation would look like a 100×
      // speedup). Stderr carries the detail; the summary JSON carries the
      // count via the negative sentinel below.
      val ok =
        try { query(spark, sfDir, guardBytes).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      // Drop the query's localCheckpoint blocks before timing the next one.
      Suite.release(spark)
      name -> dt
    }.toMap
    // Three interleaved passes, min per query: pass 1 absorbs JIT/codegen,
    // and the per-pass GC drain keeps one query's garbage from inflating
    // the next pass's measurements — the min is the steady-state cost a
    // long-running engine would see. (Passes are full-suite interleaved, so
    // a load spike cannot deflate one query's every sample.)
    val nPasses = math.max(1, sys.env.getOrElse("GRAFT_PASSES", "3").toInt)
    val passes = (1 to nPasses).map { _ =>
      val p = pass()
      System.gc()
      p
    }
    // Min over SUCCESSFUL passes; -1 (failed every pass) survives so the
    // summary shows the failure instead of a phantom fast time.
    val results = passes.reduce((a, b) => a.map { case (k, v) =>
      val w = b(k)
      k -> (if (v < 0) w else if (w < 0) v else math.min(v, w))
    })
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    val total = results.values.filter(_ >= 0).sum
    // Per-query ambient guard: any row whose min-of-N exceeds 2× its
    // per-query anchor gets an immediate warm min-of-6 in the SAME
    // session, so a cross-epoch ratio can be adjudicated from one epoch
    // instead of a follow-up probe session (the q_embed_knn_lsh saga:
    // three rounds of cold-path bounce before a warm probe settled it).
    // Anchor = the r8 clean-session detail file; override GRAFT_ANCHOR.
    // Capped at 8 reruns so a systemic regression (which a warm rerun
    // would not exonerate anyway) cannot double the bench wall.
    val anchorPath = sys.env.getOrElse("GRAFT_ANCHOR", "bench_detail_r08_baseline.json")
    val anchors: Map[String, Double] =
      try {
        val txt = new String(Files.readAllBytes(Paths.get(anchorPath)))
        val qsec = txt.substring(txt.indexOf("\"queries\":"))
        """"([A-Za-z0-9_]+)":(-?[0-9.]+)""".r.findAllMatchIn(qsec)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case e: Throwable =>
        // LOUD: an empty warm_sec must mean "no outliers", never "the
        // guard silently never loaded an anchor" — the detail JSON also
        // records anchors_loaded so the two cases stay distinguishable
        System.err.println(
          s"[bench] ambient guard DISABLED: anchor $anchorPath unreadable (${e.getMessage})")
        Map.empty[String, Double]
      }
    val flagged = results.collect {
      case (k, v) if v >= 0 && anchors.get(k).exists(a => a > 0 && v > 2 * a) => k
    }.toSeq.sorted.take(8)
    val warm: Map[String, Double] = flagged.map { name =>
      val query = suite.find(_.name == name).get
      // failures must be LOUD here too (the pass() rule): a swallowed
      // warm-run error would publish its fast failure time as an
      // ambient-noise exoneration of a genuinely broken query
      val ts = (1 to 6).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { query(spark, sfDir, guardBytes).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] warm $name FAILED: ${e.getMessage}")
            false
          }
        Suite.release(spark)
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      val good = ts.filter(_ >= 0)
      name -> (if (good.nonEmpty) good.min else -1.0)
    }.toMap
    def r2(v: Double): Double = math.round(v * 100) / 100.0
    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    val bySlowest = results.toSeq.sortBy { case (k, v) => (-v, k) }
    // Full per-query detail (ms precision) goes to a FILE in the repo —
    // the driver captures only the TAIL (~3.3 KB) of the build output, and
    // a 117-query map at 3 decimals (~4.3 KB) overflowed it in rounds 1-2.
    val detail = bySlowest.map { case (k, v) => s""""$k":${r3(v)}""" }
      .mkString("{", ",", "}")
    val warmJson = warm.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${r3(v)}""" }.mkString("{", ",", "}")
    val benched = Contract.all.filter(_.benchPlan.nonEmpty).map(_.name).toSet
    val opOnly = suite.map(_.name).filter(benched).sorted
      .map(n => s""""$n"""").mkString("[", ",", "]")
    val detailLine =
      s"""{"sf":"$sfDir","runs_per_query":$nPasses,"aggregation":"min","total_sec":${r3(total)},"operator_only":$opOnly,"anchors_loaded":${anchors.size},"warm_sec":$warmJson,"queries":$detail}""" + "\n"
    if (only.isEmpty) // a GRAFT_ONLY subset must not clobber the full record
      Files.writeString(Paths.get("bench_detail.json"), detailLine)
    // Controlled-measurement runs (the ambient-drift audits) need per-query
    // detail for a GRAFT_ONLY subset without clobbering the full record:
    // GRAFT_DETAIL_OUT names an explicit sidecar file for this run only.
    sys.env.get("GRAFT_DETAIL_OUT").foreach { p =>
      Files.writeString(Paths.get(p), detailLine)
    }
    // The stdout contract line stays small: total + the 40 slowest queries
    // (the regression-relevant ones) at 2 decimals — ~1.3 KB, comfortably
    // inside the tail capture. Printed LAST so the tail always contains it.
    val top = bySlowest.take(40).map { case (k, v) => s""""$k":${r2(v)}""" }
      .mkString("{", ",", "}")
    spark.stop()
    // Silence log4j2 entirely before the contract line: stray shutdown-hook
    // WARNs on stderr could otherwise land after the JSON in the driver's
    // combined-stream tail capture.
    try org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.OFF)
    catch { case _: Throwable => () }
    val failedJson = failed.map(n => s""""$n"""").mkString("[", ",", "]")
    System.out.println(s"""{"metric":"total","value":${r2(total)},"unit":"sec","queries":$top,"n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"queries_shown":40,"detail":"bench_detail.json","sf":"$sfDir","runs_per_query":$nPasses,"aggregation":"min"}""")
    System.out.flush()
  }
}
