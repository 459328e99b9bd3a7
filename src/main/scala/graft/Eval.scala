package graft

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.core.Engine

/** Reproducible port of the reference's golden eval
  * (tests/integration/test_full_eval.py + eval notebook): build a
  * clustered-Gaussian corpus, train the PCA→IVF→PQ index, run single and
  * batched two-stage queries, and print ONE JSON line with
  * recall(50@500) and latency stats. Configure with env:
  * GRAFT_EVAL_N (corpus size, default 30000), GRAFT_EVAL_D (dim, 64),
  * GRAFT_EVAL_Q (queries, 32), GRAFT_EVAL_TWOLEVEL (false),
  * GRAFT_EVAL_OPQ (false → reference defaults; true → the published
  * PCA256/OPQ128/PQ32 omit_opq=False chain, README.md:22).
  */
object Eval {

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("GRAFT_EVAL_N", "30000").toInt
    val d = sys.env.getOrElse("GRAFT_EVAL_D", "64").toInt
    val nQ = sys.env.getOrElse("GRAFT_EVAL_Q", "32").toInt
    val twoLevel = sys.env.getOrElse("GRAFT_EVAL_TWOLEVEL", "false").toBoolean
    val withOpq = sys.env.getOrElse("GRAFT_EVAL_OPQ", "false").toBoolean
    // the published-eval replication point (reference README.md:14-22):
    // prelim_k=200, final_k=20 → recall 20@20 against exact top-20
    val prelimK = sys.env.getOrElse("GRAFT_EVAL_PRELIM_K", "500").toInt
    val finalK = sys.env.getOrElse("GRAFT_EVAL_FINAL_K", "50").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // contention gate at entry AND re-admission before the latency loops
    // below — r13's published-eval artifact read kernel canary 1,172
    // (< the 1,600 floor) and failed the repo's own comparability rule
    val (_, waitedBeforeS) = Canary.awaitHealthyKernel("eval")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // corpus structure knob: rows-per-center controls how many
    // near-duplicates compete inside each query's true top-k — the main
    // difficulty axis for PQ-compressed candidate selection on synthetic
    // data (real embedding corpora sit between the extremes)
    val rowsPerCenter = sys.env.getOrElse("GRAFT_EVAL_ROWS_PER_CENTER", "500").toInt
    val seed = 42L
    val rnd = new Random(seed)
    val centers = Array.fill(math.max(10, n / rowsPerCenter), d)(rnd.nextGaussian().toFloat)
    val corpus = Array.tabulate(n) { i =>
      val c = centers(i % centers.length)
      Array.tabulate(d)(j => c(j) + 0.35f * rnd.nextGaussian().toFloat)
    }

    val root = java.nio.file.Files.createTempDirectory("graft-eval").toString
    val engine = new Engine(spark, root)
    engine.create("eval", vectorDimension = d)
    engine.addLocal("eval", corpus.toIndexedSeq,
      (0 until n).map(i => s"""{"i":$i}"""))

    val t0 = System.nanoTime()
    engine.train("eval",
      params = if (withOpq) Some(graft.index.IndexParams(256, 128, 32, omitOpq = false))
               else None,
      useTwoLevelClustering = Some(twoLevel), seed = seed)
    val trainSec = (System.nanoTime() - t0) / 1e9

    def normalize(v: Array[Float]): Array[Float] = {
      val nn = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (nn == 0) v else v.map(x => (x / nn).toFloat)
    }
    val queries = Array.tabulate(nQ) { qi =>
      normalize(corpus((qi * 977) % n).map(x => x + 0.1f * rnd.nextGaussian().toFloat))
    }
    val stored = engine.data("eval").select("id", "vector").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

    var recallSum = 0.0
    // re-admit after the train: every number below is a latency
    // measurement and must carry a healthy canary of its OWN window
    val (kernelServing, waitedServingS) =
      Canary.awaitHealthyKernel("eval-serving")
    // engine.query = the DEFAULT public path (r12: auto-routed through a
    // warm PreparedIndex; first call pays the block build)
    val latencies = queries.map { q =>
      val gt = stored.map { case (id, v) =>
        var s = 0.0; var j = 0
        while (j < v.length) { s += v(j).toDouble * q(j).toDouble; j += 1 }
        (s, id)
      }.sortBy { case (s, id) => (-s, id) }.take(finalK).map(_._2).toSet
      val q0 = System.nanoTime()
      val ids = engine.query("eval", q, prelimK, finalK).collect().map(_.getLong(1))
      val ms = (System.nanoTime() - q0) / 1e6
      recallSum += ids.count(gt.contains).toDouble / finalK
      ms
    }.sorted
    val recall = recallSum / nQ
    // the pure Catalyst plan path, for attribution of the routing win —
    // capped at 32 queries (each pays the ~0.5 s planning floor; it is
    // the contrast number, not the headline, and at 648 queries the
    // uncapped loop would dominate the whole eval's wall time)
    val nCat = math.min(nQ, 32)
    val catalystLat = queries.take(nCat).map { q =>
      val q0 = System.nanoTime()
      engine.queryCatalyst("eval", q, prelimK, finalK).collect()
      (System.nanoTime() - q0) / 1e6
    }.sorted

    // the hits form of the routed path (no per-call DataFrame analysis)
    engine.queryHits("eval", queries(0), prelimK, finalK) // warm
    val hitsLat = queries.map { q =>
      val t = System.nanoTime()
      engine.queryHits("eval", q, prelimK, finalK)
      (System.nanoTime() - t) / 1e6
    }.sorted

    // HTTP path at the same config — the reference's own transport gate is
    // 65 ms per query through FastAPI (test_fastapi.py:194); ours rides
    // RestServer → queryHits over real sockets. Bit-equality of the id
    // stream vs the in-process hits is asserted on the first 8 queries.
    val restServer = new graft.api.RestServer(engine, port = 0).start()
    val httpClient = java.net.http.HttpClient.newHttpClient()
    val httpMapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def httpQuery(q: Array[Float]): com.fasterxml.jackson.databind.JsonNode = {
      val body = s"""{"query_vector": ${q.mkString("[", ",", "]")},
                     "preliminary_top_k": $prelimK, "final_top_k": $finalK}"""
      val r = httpClient.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${restServer.boundPort}/db/eval/query"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .header("Content-Type", "application/json").build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(r.statusCode() == 200, s"http query failed: ${r.body().take(200)}")
      httpMapper.readTree(r.body())
    }
    httpQuery(queries(0)) // warm (connection + JIT)
    var httpMatches = true
    queries.take(math.min(nQ, 8)).foreach { q =>
      val node = httpQuery(q).get("ids")
      val httpIds = (0 until node.size()).map(node.get(_).asLong())
      val hitIds = engine.queryHits("eval", q, prelimK, finalK).map(_.id).toSeq
      httpMatches &&= httpIds == hitIds
    }
    val httpLat = queries.map { q =>
      val t = System.nanoTime()
      httpQuery(q)
      (System.nanoTime() - t) / 1e6
    }.sorted
    restServer.stop()

    // batched form: all queries in one pipeline
    import spark.implicits._
    val qdf = queries.zipWithIndex.map { case (q, i) => (i.toLong, q.toSeq) }
      .toSeq.toDF("query_id", "qvec")
    val b0 = System.nanoTime()
    val batchRows = engine.queryBatchTrained("eval", qdf, prelimK, finalK).count()
    val batchSec = (System.nanoTime() - b0) / 1e9

    // PREPARED serving at the same config — the engine's latency twin of
    // the reference's in-memory one-at-a-time serving (README.md:14-18
    // reports 5.04 ms mean; test_full_eval.py:81 gates at 30 ms)
    val p0 = System.nanoTime()
    val prep = engine.prepareServing("eval")
    val prepBuildSec = (System.nanoTime() - p0) / 1e9
    prep.query(queries(0), prelimK, finalK) // warm (JIT + block touch)
    // equality vs the Catalyst path gated on the first 32 queries (each
    // comparison pays the planning floor; the prepared timing itself
    // covers all nQ)
    var prepMatches = true
    queries.take(nCat).foreach { q =>
      val hits = prep.query(q, prelimK, finalK)
      val reg = engine.queryCatalyst("eval", q, prelimK, finalK).collect()
      prepMatches &&= hits.length == reg.length && hits.zip(reg).forall {
        case (h, r) => h.rank == r.getInt(0) && h.id == r.getLong(1) &&
          h.cosineSimilarity == r.getDouble(3)
      }
    }
    val prepLat = queries.map { q =>
      val t = System.nanoTime()
      prep.query(q, prelimK, finalK)
      (System.nanoTime() - t) / 1e6
    }.sorted
    // concurrent qps: 16 threads draining a shared queue of 2 rounds
    val conc = 16
    val total = nQ * 2
    val idx = new java.util.concurrent.atomic.AtomicInteger(0)
    val c0 = System.nanoTime()
    val threads = (0 until conc).map { _ =>
      val t = new Thread(() => {
        var i = idx.getAndIncrement()
        while (i < total) { prep.query(queries(i % nQ), prelimK, finalK); i = idx.getAndIncrement() }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val concQps = total / ((System.nanoTime() - c0) / 1e9)

    val doc = engine.load("eval")
    println(
      s"""{"n":$n,"d":$d,"rows_per_center":$rowsPerCenter,""" +
        s""""queries":$nQ,"two_level":$twoLevel,"opq":$withOpq,""" +
        s""""nlist":${doc.numClusters},"nprobe":${doc.nProbe},""" +
        s""""recall_${finalK}_at_$prelimK":${"%.4f".format(recall)},""" +
        s""""train_sec":${"%.1f".format(trainSec)},""" +
        s""""query_ms_p50":${"%.0f".format(latencies(nQ / 2))},""" +
        s""""query_ms_p95":${"%.0f".format(latencies((nQ * 95) / 100))},""" +
        s""""query_ms_p99":${"%.0f".format(latencies((nQ * 99) / 100))},""" +
        s""""catalyst_query_ms_p50":${"%.0f".format(catalystLat(nCat / 2))},""" +
        s""""hits_query_ms_p50":${"%.1f".format(hitsLat(nQ / 2))},""" +
        s""""hits_query_ms_p95":${"%.1f".format(hitsLat((nQ * 95) / 100))},""" +
        s""""hits_query_ms_p99":${"%.1f".format(hitsLat((nQ * 99) / 100))},""" +
        s""""http_matches_hits":$httpMatches,""" +
        s""""http_query_ms_p50":${"%.1f".format(httpLat(nQ / 2))},""" +
        s""""http_query_ms_p95":${"%.1f".format(httpLat((nQ * 95) / 100))},""" +
        s""""http_query_ms_p99":${"%.1f".format(httpLat((nQ * 99) / 100))},""" +
        s""""batch_total_sec":${"%.2f".format(batchSec)},""" +
        s""""batch_per_query_ms":${"%.0f".format(batchSec * 1000 / nQ)},""" +
        s""""batch_rows":$batchRows,""" +
        s""""prepared_build_sec":${"%.1f".format(prepBuildSec)},""" +
        s""""prepared_matches_regular":$prepMatches,""" +
        s""""prepared_query_ms_p50":${"%.1f".format(prepLat(nQ / 2))},""" +
        s""""prepared_query_ms_p95":${"%.1f".format(prepLat((nQ * 95) / 100))},""" +
        s""""prepared_query_ms_p99":${"%.1f".format(prepLat((nQ * 99) / 100))},""" +
        s""""prepared_concurrent_qps":${"%.1f".format(concQps)},""" +
        // 16-thread kernel canary NEXT TO the qps number — single-thread
        // health does not rule out host multi-core collapse (the r17
        // admissibility rule: read qps only when 16t ≳ 8× single)
        s""""kernel_canary_16t_rows_per_sec":${Canary.kernelCanaryMultiRowsPerSec(16)},""" +
        s""""canary_waited_before_s":$waitedBeforeS,""" +
        s""""kernel_canary_serving_rows_per_sec":$kernelServing,""" +
        s""""canary_waited_serving_s":$waitedServingS,""" +
        s""""cpu_canary_ms":${Canary.cpuCanaryMs()},""" +
        s""""kernel_canary_rows_per_sec":${Canary.kernelCanaryRowsPerSec()}}""")
    spark.stop()
  }
}
