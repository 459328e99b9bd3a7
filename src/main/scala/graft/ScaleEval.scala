package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.util.Random

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Engine
import graft.index.IndexParams

/** Million-vector scale proof for the trained serving path — the regime the
  * reference golden-tests its heuristics in (1M → nlist 6324,
  * reference tests/unit/test_utils.py:8-12) but that small-sf bench runs
  * never reach. Builds a clustered-Gaussian corpus DISTRIBUTED (the driver
  * never holds the 1M×768 matrix — generation is a deterministic per-row
  * function over spark.range, so query vectors can be re-derived locally),
  * trains the published PCA256→OPQ128→IVF→PQ32 chain (reference
  * README.md:22) with two-level clustering, and measures:
  *
  *   - train wall-time and coded-table file count/bytes (small-file health
  *     of the partitioned IVF layout at nlist ≈ 6324)
  *   - recall(finalK@prelimK) of the trained two-stage path against the
  *     engine's exact flat path as ground truth
  *   - batched per-query latency (the throughput shape)
  *   - single-query p50 (the job-floor shape)
  *   - concurrent QPS: 16 caller threads × single queries against one
  *     shared SparkSession — proves the serving path is job-floor-bound,
  *     not serialized (VERDICT r5 next-round #4)
  *
  * Env knobs: GRAFT_SCALE_N (1000000), GRAFT_SCALE_D (768),
  * GRAFT_SCALE_Q (16 batch queries), GRAFT_SCALE_THREADS (16),
  * GRAFT_SCALE_OPQ (true), SPARK_GRAFT_CPUS (32). Prints ONE JSON line.
  */
object ScaleEval {

  /** Deterministic row i of the corpus: center(i mod C) + 0.35·N(0,1).
    * Shared by the distributed generator and the driver-side query
    * derivation — both see the same vector without any collect.
    */
  def rowVector(i: Long, centers: Array[Array[Float]], d: Int, seed: Long): Array[Float] = {
    val rnd = new Random(seed ^ (i * 0x9E3779B97F4A7C15L))
    val c = centers((i % centers.length).toInt)
    Array.tabulate(d)(j => c(j) + 0.35f * rnd.nextGaussian().toFloat)
  }

  private def normalize(v: Array[Float]): Array[Float] = {
    val nn = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (nn == 0) v else v.map(x => (x / nn).toFloat)
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("GRAFT_SCALE_N", "1000000").toLong
    val d = sys.env.getOrElse("GRAFT_SCALE_D", "768").toInt
    val nQ = sys.env.getOrElse("GRAFT_SCALE_Q", "16").toInt
    val nThreads = sys.env.getOrElse("GRAFT_SCALE_THREADS", "16").toInt
    val withOpq = sys.env.getOrElse("GRAFT_SCALE_OPQ", "true").toBoolean
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val prelimK = 500
    val finalK = 50
    // contention gate before the build AND again before each serving
    // measurement block (r13: the 35M tail went contaminated AFTER a
    // clean start — the long build is a window for contention to land)
    val (kernelBefore, waitedBeforeS) = Canary.awaitHealthyKernel("scale-eval")
    val canaryBefore = (Canary.cpuCanaryMs(), kernelBefore)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val seed = 42L
    val rnd = new Random(seed)
    val numCenters = math.max(10, (n / 500).toInt)
    val centers = Array.fill(numCenters, d)(rnd.nextGaussian().toFloat)
    val bcCenters = spark.sparkContext.broadcast(centers)

    // GRAFT_SCALE_ROOT: evaluate against a KEPT trained root (RootBuild
    // writes the identical corpus/params/train chain) instead of
    // rebuilding — the corpus generator is deterministic in (n, d, seed),
    // so queries and ground truth derive identically; guarded below by
    // dim/maxId asserts so a mismatched root fails loudly, not quietly.
    val reuseRoot = sys.env.get("GRAFT_SCALE_ROOT")
    val root = reuseRoot.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-scale").toString)
    val engine = new Engine(spark, root)
    val reusing = reuseRoot.nonEmpty && engine.exists("scale") &&
      engine.load("scale").isTrained
    if (reusing) {
      val d0 = engine.load("scale")
      require(d0.vectorDimension == d && d0.maxId == n - 1,
        s"kept root (d=${d0.vectorDimension}, maxId=${d0.maxId}) does not " +
          s"match GRAFT_SCALE_N=$n / GRAFT_SCALE_D=$d")
    }
    if (!reusing) engine.create("scale", vectorDimension = d)

    // distributed generation: 64 gen partitions so the per-partition working
    // set stays ~50 MB regardless of n
    val g0 = System.nanoTime()
    if (!reusing) {
      val corpus = spark.range(0L, n, 1L, 64)
        .map(i => (rowVector(i, bcCenters.value, d, seed).toSeq, s"""{"i":$i}"""))
        .toDF("vector", "metadata")
        .select(col("vector").cast("array<float>").as("vector"), col("metadata"))
      engine.add("scale", corpus)
    }
    val addSec = (System.nanoTime() - g0) / 1e9

    val params =
      if (withOpq) {
        // the published chain by default (PCA256/OPQ128/PQ32); dims
        // env-tunable so an OPQ-on point fits the disk at d<256 (the
        // rotation fit/apply cost is what the scale point measures)
        val pca = sys.env.getOrElse("GRAFT_SCALE_PCA", "256").toInt
        val opqDim = sys.env.getOrElse("GRAFT_SCALE_OPQ_DIM", "128").toInt
        val m = sys.env.getOrElse("GRAFT_SCALE_PQM", "32").toInt
        Some(IndexParams(pca, opqDim, m, omitOpq = false))
      }
      else sys.env.get("GRAFT_SCALE_PQM").map { m =>
        // explicit no-OPQ chain for dimensions the heuristic table
        // rejects by reference parity (d < 64 → pca default 64 > d)
        val pca = sys.env.getOrElse("GRAFT_SCALE_PCA", d.toString).toInt
        IndexParams(pca, pca, m.toInt, omitOpq = true)
      } // unset → heuristic default for d
    val t0 = System.nanoTime()
    if (!reusing)
      engine.train("scale", params = params, useTwoLevelClustering = Some(true),
        seed = seed)
    val trainSec = (System.nanoTime() - t0) / 1e9
    val doc = engine.load("scale")

    // coded-table layout health at nlist≈6324 partitions
    val codedDir = java.nio.file.Paths.get(doc.indexPath(root), "coded")
    var codedFiles = 0L
    var codedBytes = 0L
    val walk = java.nio.file.Files.walk(codedDir)
    try walk.forEach { p =>
      if (p.getFileName.toString.endsWith(".parquet")) {
        codedFiles += 1; codedBytes += java.nio.file.Files.size(p)
      }
    } finally walk.close()

    // queries: perturbed corpus rows, derived WITHOUT touching the data
    val queries = Array.tabulate(nQ) { qi =>
      val base = (qi.toLong * 977L) % n
      val qrnd = new Random(seed * 31 + qi)
      normalize(rowVector(base, centers, d, seed)
        .map(x => x + 0.1f * qrnd.nextGaussian().toFloat))
    }
    val qdf = queries.zipWithIndex.map { case (q, i) => (i.toLong, q.toSeq) }
      .toSeq.toDF("query_id", "qvec")

    // ground truth: the engine's exact flat path (oracle-validated at small
    // sf) — one distributed scan amortized over all queries
    val gt0 = System.nanoTime()
    val gt = engine.queryBatchFlat("scale", qdf, finalK)
      .select("query_id", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val gtSec = (System.nanoTime() - gt0) / 1e9

    // batched trained two-stage
    val b0 = System.nanoTime()
    val batch = engine.queryBatchTrained("scale", qdf, prelimK, finalK)
      .select("query_id", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1))).toMap
    val batchSec = (System.nanoTime() - b0) / 1e9
    val recall = (0 until nQ).map { qi =>
      batch.getOrElse(qi.toLong, Array.empty[Long])
        .count(gt(qi.toLong).contains).toDouble / finalK
    }.sum / nQ

    // single-query latency (sequential), split into the driver-side share
    // (catalog load + probe selection + plan build + Catalyst planning,
    // forced via executedPlan) and the cluster-side share (job + collect) —
    // pins how much of the p50 is the platform's job-submission floor vs
    // actual scan/kernel work (round-7 #8 experiment)
    val nSingle = math.min(8, nQ)
    // the DEFAULT public path (r12: auto-routed through a warm
    // PreparedIndex — the first call pays the block build, so time one
    // unrecorded warmup first; this is what an unsophisticated caller
    // gets, the r11 `weak` row)
    val w0 = System.nanoTime()
    engine.query("scale", queries(0), prelimK, finalK).collect()
    val routeBuildSec = (System.nanoTime() - w0) / 1e9
    // settle before the latency loops: the build/gt/batch phases leave
    // collector debt on a ~100 GB heap, and a full GC landing inside an
    // 8-sample p50 reads as a serving regression (observed: singles p50
    // 294 ms in a run whose prepared/filtered/concurrent numbers minutes
    // later were 31/34 ms and 88 qps) — measure steady-state serving,
    // not the one-time build-phase garbage
    System.gc()
    Thread.sleep(2000)
    // re-admit: everything below is a serving-latency measurement — the
    // artifact is only comparable if the canary is healthy HERE, not
    // just at process start (r13 "what's wrong" #1)
    val (kernelServing, waitedServingS) =
      Canary.awaitHealthyKernel("scale-eval-serving")
    // task-time accounting for the concurrency-ceiling attribution:
    // occupancy (executorRunTime — how long tasks HOLD cores, the
    // throughput-relevant number) and true cpu. concurrent qps can never
    // exceed cores / occupancy-per-query; measuring both sides names the
    // ceiling instead of guessing (VERDICT r13 next-round #4).
    val taskRunMs = new java.util.concurrent.atomic.AtomicLong(0)
    val taskCpuNs = new java.util.concurrent.atomic.AtomicLong(0)
    val taskCount = new java.util.concurrent.atomic.AtomicLong(0)
    val taskInBytes = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          taskRunMs.addAndGet(te.taskMetrics.executorRunTime)
          taskCpuNs.addAndGet(te.taskMetrics.executorCpuTime)
          taskInBytes.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
          taskCount.incrementAndGet()
        }
    })
    def taskDelta[A](body: => A): (A, Double, Double, Double) = {
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      val (r0, c0n, n0) = (taskRunMs.get(), taskCpuNs.get(), taskCount.get())
      val a = body
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      (a, (taskRunMs.get() - r0).toDouble, (taskCpuNs.get() - c0n) / 1e6,
        (taskCount.get() - n0).toDouble)
    }
    def inputDelta[A](body: => A): (A, Double) = {
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      val b0 = taskInBytes.get()
      val a = body
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      (a, (taskInBytes.get() - b0) / 1e6)
    }
    val (singles, sRunMs, sCpuMs, sTasks) = taskDelta {
      (0 until nSingle).map { qi =>
        val s0 = System.nanoTime()
        engine.query("scale", queries(qi), prelimK, finalK).collect()
        (System.nanoTime() - s0) / 1e6
      }.sorted
    }
    val p50 = singles(nSingle / 2)
    // the pure Catalyst plan path, split into driver-side (catalog load +
    // probe selection + plan build + Catalyst planning, forced via
    // executedPlan) and cluster-side (job + collect) — attributes how
    // much of ITS p50 is planning vs scan/kernel work
    // the coarse and fetch stages are EAGER inside queryCatalyst (plan-free
    // ServingScan jobs), so the "plan" share contains their execution.
    // Task accounting + input bytes attribute where a cold-cache p50 goes
    // (driver vs task-time vs IO volume) — the r14 35M artifact needed
    // exactly this split.
    // the catalyst p50 is a GATED number (<300 ms): start+END canary
    // bracket with retry, so a window breaking mid-loop re-measures
    // instead of polluting the gate reading (VERDICT r16 next #1).
    // One unrecorded warmup first — parity with the routed loop, whose
    // first (block-building) call is likewise timed separately as
    // route_build_sec: the catalyst loop otherwise counts footer-cache
    // and codegen warmup inside a p50 of 8.
    engine.queryCatalyst("scale", queries(0), prelimK, finalK).collect()
    def catLoop(): IndexedSeq[(Double, Double, Double)] =
      (0 until nSingle).map { qi =>
        val s0 = System.nanoTime()
        val df = engine.queryCatalyst("scale", queries(qi), prelimK, finalK)
        df.queryExecution.executedPlan
        val s1 = System.nanoTime()
        df.collect()
        val s2 = System.nanoTime()
        ((s1 - s0) / 1e6, (s2 - s1) / 1e6, (s2 - s0) / 1e6)
      }
    val (((splits, catRunMs, catCpuMs, catTasks), catInMb),
         kernelCatStart, kernelCatEnd, _) = Canary.bracket("scale-eval-catalyst") {
      inputDelta { taskDelta { catLoop() } }
    }
    val catalystP50 = splits.map(_._3).sorted.apply(nSingle / 2)
    val planP50 = splits.map(_._1).sorted.apply(nSingle / 2)
    val execP50 = splits.map(_._2).sorted.apply(nSingle / 2)
    val catalystAll = splits.map(t => "%.0f".format(t._3)).mkString("[", ",", "]")

    // routed FILTERED single-query (VERDICT r12 ask #1): the metadata
    // predicate is compiled once and evaluated against the preliminary
    // candidates INSIDE the fused serving job, sharing the routed floor
    // instead of the ~1 s Catalyst planning floor.
    //
    // TWO predicates, deliberately (CHANGES_r13.md):
    //  - hash-parity — 50% selectivity WITHIN every cluster, the
    //    production metadata-filter shape: the first probe round fills
    //    (~250 of prelimK=500 survive ≥ finalK=50) and the query stays
    //    on the routed floor. Plain `i % 2` is NOT that here: the
    //    generator assigns center = i % numCenters, so id parity is
    //    cluster-CONSTANT and every query keeps 0 or 500 — parity is a
    //    property of the blob, not of a row.
    //  - cluster-correlated (`i % 2` itself) — the adversarial case
    //    where the predicate tracks cluster structure (think lang=X on
    //    semantically clustered text): half the queries under-fill,
    //    pay the widened re-probe, and may land on the terminal exact
    //    flat scan. Recorded separately so the under-fill cost is an
    //    honest, named number instead of polluting the headline.
    // Both equality-gated against the Catalyst predicate path.
    val predCol =
      pmod(hash(get_json_object(col("metadata"), "$.i")), lit(2)) === 0
    val predCorr = get_json_object(col("metadata"), "$.i").cast("long") % 2 === 0
    val filteredMatches = (0 until 2).forall { qi =>
      Seq(predCol, predCorr).forall { p =>
        val exp = engine.queryCatalyst("scale", queries(qi), prelimK, finalK,
            Some(p)).collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getDouble(3))).toSeq
        val got = engine.queryHits("scale", queries(qi), prelimK, finalK,
            Some(p))
          .map(h => (h.rank, h.id, h.cosineSimilarity)).toSeq
        got == exp
      }
    }
    def fLoop(p: Column): IndexedSeq[Double] = {
      (0 until nSingle).map { qi =>
        val s0 = System.nanoTime()
        engine.queryHits("scale", queries(qi), prelimK, finalK, Some(p))
        (System.nanoTime() - s0) / 1e6
      }.sorted
    }
    val filteredAll = fLoop(predCol)
    val filteredCorrelatedAll = fLoop(predCorr)
    val filteredP50 = filteredAll(nSingle / 2)
    val filteredCorrelatedP50 = filteredCorrelatedAll(nSingle / 2)
    val fCat = (0 until nSingle).map { qi =>
      val s0 = System.nanoTime()
      engine.queryCatalyst("scale", queries(qi), prelimK, finalK,
        Some(predCol)).collect()
      (System.nanoTime() - s0) / 1e6
    }.sorted
    val filteredCatalystP50 = fCat(nSingle / 2)

    // concurrent serving: nThreads callers × single queries, shared session
    val nConc = nThreads * 2
    // the ≥80 qps gate: start+END canary bracket with retry (same
    // rationale as the catalyst bracket above — r16's qps spread of
    // 13.8–35.4 on identical code was all mid-window contention)
    val ((concSec, cRunMs, cCpuMs, cTasks),
         kernelConc, kernelConcEnd, waitedConcS) =
      Canary.bracket("scale-eval-concurrent") {
        val pool = Executors.newFixedThreadPool(nThreads)
        val tasks = (0 until nConc).map { qi =>
          new Callable[Long] {
            def call(): Long = {
              engine.query("scale", queries(qi % nQ), prelimK, finalK).collect()
              1L
            }
          }
        }
        val r = taskDelta {
          val c0 = System.nanoTime()
          pool.invokeAll(new java.util.ArrayList(scala.jdk.CollectionConverters
            .SeqHasAsJava(tasks).asJava)).forEach(f => f.get())
          (System.nanoTime() - c0) / 1e9
        }
        pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES)
        r
      }
    val concurrentQps = nConc / concSec
    // multi-core canary next to the qps number (see Canary
    // .kernelCanaryMultiRowsPerSec — single-thread health does not rule
    // out host multi-core contention)
    val kernelMulti16 = Canary.kernelCanaryMultiRowsPerSec(16)
    val singleQps = 1000.0 / p50
    // ceiling attribution: cores / per-query core-occupancy is the hard
    // throughput bound; the gap between it and measured concurrent qps
    // is scheduler/driver-side, the gap between IT and 16× single-qps
    // is simply that one query already keeps several cores busy
    val occMsPerQuery = cRunMs / nConc
    val impliedMaxQps =
      if (occMsPerQuery > 0) cpus.toDouble * 1000.0 / occMsPerQuery else -1.0

    // prepared in-memory serving path (Engine.prepareServing): one fused
    // job per query over cached blocks — the latency-floor answer. Gate
    // its equality against the regular path before timing it.
    val preparedJson = {
      val pb0 = System.nanoTime()
      val prep = engine.prepareServing("scale")
      val prepBuildSec = (System.nanoTime() - pb0) / 1e9
      val matches = (0 until 2).forall { qi =>
        val exp = engine.queryCatalyst("scale", queries(qi), prelimK, finalK)
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(3))).toSeq
        val got = prep.query(queries(qi), prelimK, finalK)
          .map(h => (h.rank, h.id, h.cosineSimilarity)).toSeq
        got == exp
      }
      prep.query(queries(0), prelimK, finalK) // warm the code path
      // start+END canary bracket (r18b): the prepared block runs LAST in
      // this main, after every other bracket — the 2M×768 r18 rerun
      // measured its prepared occupancy at 4.3× the r17 control with a
      // healthy p50, the signature of contention arriving exactly here,
      // and had no marker to prove it. Same bracket-with-retry rule as
      // the qps gate block above.
      val ((pP50, pConcSec, pRunMs), pKStart, pKEnd, pWaited) =
        Canary.bracket("scale-eval-prepared") {
          val pLat = (0 until nSingle).map { qi =>
            val s0 = System.nanoTime()
            prep.query(queries(qi), prelimK, finalK)
            (System.nanoTime() - s0) / 1e6
          }.sorted
          val pPool = Executors.newFixedThreadPool(nThreads)
          val pTasks = (0 until nConc).map { qi =>
            new Callable[Long] {
              def call(): Long = { prep.query(queries(qi % nQ), prelimK, finalK); 1L }
            }
          }
          val (pcSec, prMs, _, _) = taskDelta {
            val pc0 = System.nanoTime()
            pPool.invokeAll(new java.util.ArrayList(scala.jdk.CollectionConverters
              .SeqHasAsJava(pTasks).asJava)).forEach(f => f.get())
            (System.nanoTime() - pc0) / 1e9
          }
          pPool.shutdown(); pPool.awaitTermination(1, TimeUnit.MINUTES)
          (pLat(nSingle / 2), pcSec, prMs)
        }
      s""""prepared_build_sec":${"%.1f".format(prepBuildSec)},""" +
        s""""prepared_matches_regular":$matches,""" +
        s""""prepared_query_ms_p50":${"%.0f".format(pP50)},""" +
        s""""prepared_concurrent_qps":${"%.2f".format(nConc / pConcSec)},""" +
        s""""prepared_task_occupancy_ms_per_query":${"%.0f".format(pRunMs / nConc)},""" +
        s""""prepared_implied_cpu_max_qps":${
          "%.1f".format(if (pRunMs > 0) cpus.toDouble * 1000.0 * nConc / pRunMs else -1.0)},""" +
        s""""kernel_canary_prepared_start_rows_per_sec":$pKStart,""" +
        s""""kernel_canary_prepared_end_rows_per_sec":$pKEnd,""" +
        s""""canary_waited_prepared_s":$pWaited,"""
    }

    println(
      s"""{"n":$n,"d":$d,"opq":$withOpq,"two_level":true,""" +
        s""""nlist":${doc.numClusters},"nprobe":${doc.nProbe},""" +
        s""""add_sec":${"%.1f".format(addSec)},""" +
        s""""train_sec":${"%.1f".format(trainSec)},""" +
        s""""root_reused":$reusing,""" +
        s""""coded_files":$codedFiles,"coded_mb":${codedBytes / 1024 / 1024},""" +
        s""""gt_flat_batch_sec":${"%.1f".format(gtSec)},""" +
        s""""recall_${finalK}_at_$prelimK":${"%.4f".format(recall)},""" +
        s""""batch_total_sec":${"%.2f".format(batchSec)},""" +
        s""""batch_per_query_ms":${"%.0f".format(batchSec * 1000 / nQ)},""" +
        s""""query_ms_p50":${"%.0f".format(p50)},""" +
        s""""route_build_sec":${"%.1f".format(routeBuildSec)},""" +
        s""""catalyst_query_ms_p50":${"%.0f".format(catalystP50)},""" +
        s""""query_plan_ms_p50":${"%.0f".format(planP50)},""" +
        s""""query_exec_ms_p50":${"%.0f".format(execP50)},""" +
        s""""catalyst_ms_all":$catalystAll,""" +
        s""""singles_ms_sorted":${singles.map("%.0f".format(_)).mkString("[", ",", "]")},""" +
        s""""catalyst_task_occupancy_ms_per_query":${"%.0f".format(catRunMs / nSingle)},""" +
        s""""catalyst_task_cpu_ms_per_query":${"%.0f".format(catCpuMs / nSingle)},""" +
        s""""catalyst_tasks_per_query":${"%.0f".format(catTasks / nSingle)},""" +
        s""""catalyst_input_mb_per_query":${"%.0f".format(catInMb / nSingle)},""" +
        s""""filtered_matches_catalyst":$filteredMatches,""" +
        s""""filtered_query_ms_p50":${"%.0f".format(filteredP50)},""" +
        s""""filtered_ms_sorted":${filteredAll.map("%.0f".format(_)).mkString("[", ",", "]")},""" +
        s""""filtered_cluster_correlated_ms_p50":${"%.0f".format(filteredCorrelatedP50)},""" +
        s""""filtered_correlated_ms_sorted":${filteredCorrelatedAll.map("%.0f".format(_)).mkString("[", ",", "]")},""" +
        s""""filtered_catalyst_ms_p50":${"%.0f".format(filteredCatalystP50)},""" +
        preparedJson +
        s""""concurrent_threads":$nThreads,"concurrent_queries":$nConc,""" +
        s""""concurrent_sec":${"%.1f".format(concSec)},""" +
        s""""concurrent_qps":${"%.2f".format(concurrentQps)},""" +
        s""""single_thread_qps":${"%.2f".format(singleQps)},""" +
        s""""concurrency_speedup":${"%.1f".format(concurrentQps / singleQps)},""" +
        s""""single_task_occupancy_ms_per_query":${"%.0f".format(sRunMs / nSingle)},""" +
        s""""single_task_cpu_ms_per_query":${"%.0f".format(sCpuMs / nSingle)},""" +
        s""""single_tasks_per_query":${"%.0f".format(sTasks / nSingle)},""" +
        s""""concurrent_task_occupancy_ms_per_query":${"%.0f".format(occMsPerQuery)},""" +
        s""""concurrent_task_cpu_ms_per_query":${"%.0f".format(cCpuMs / nConc)},""" +
        s""""concurrent_tasks_per_query":${"%.0f".format(cTasks / nConc)},""" +
        s""""implied_cpu_max_qps":${"%.1f".format(impliedMaxQps)},""" +
        s""""cpu_canary_ms_before":${canaryBefore._1},""" +
        s""""kernel_canary_before_rows_per_sec":${canaryBefore._2},""" +
        s""""canary_waited_before_s":$waitedBeforeS,""" +
        s""""kernel_canary_serving_rows_per_sec":$kernelServing,""" +
        s""""canary_waited_serving_s":$waitedServingS,""" +
        s""""kernel_canary_concurrent_rows_per_sec":$kernelConc,""" +
        s""""kernel_canary_concurrent_end_rows_per_sec":$kernelConcEnd,""" +
        s""""kernel_canary_16t_rows_per_sec":$kernelMulti16,""" +
        s""""kernel_canary_catalyst_start_rows_per_sec":$kernelCatStart,""" +
        s""""kernel_canary_catalyst_end_rows_per_sec":$kernelCatEnd,""" +
        s""""canary_waited_concurrent_s":$waitedConcS,""" +
        s""""cpu_canary_ms":${Canary.cpuCanaryMs()},""" +
        s""""kernel_canary_rows_per_sec":${Canary.kernelCanaryRowsPerSec()},""" +
        s""""load_after":${Canary.loadAvg1()}}""")
    spark.stop()
  }
}
