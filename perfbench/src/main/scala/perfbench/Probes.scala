package perfbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions.col

import graft.catalog.Catalog
import graft.core.Engine
import graft.functions.VectorKernels
import graft.index._

/** The traced run's fixed list of calls into each layer's public functions,
  * made after the traced pass on whatever state the workload left. Every
  * workload runs the same list, so every per-layer metric is measured on
  * every workload.
  */
object Probes {
  import Sizing._
  private val Pairs = 200
  private val CatalystCalls = 50
  private val CatalogLoads = 50

  def run(b: Bench): Unit = {
    val spark = b.spark
    val e = b.engine

    // api: the same query in process and over HTTP, back to back
    val conn = new HttpConn(b.port)
    val diffs = try (0 until Pairs).map { i =>
      val q = b.queries(i % b.queries.length)
      val t0 = System.nanoTime()
      val local = b.queryHits(q)
      val t1 = System.nanoTime()
      val (code, body) = b.httpPost(conn, s"/db/${b.db}/query", Json.queryBody(q, PrelimK, FinalK))
      val t2 = System.nanoTime()
      b.gate(code == 200 && Json.hits(body)._1.sameElements(local.map(_.id)),
        s"paired HTTP query $i differs from the in-process answer")
      b.apiRespBytes.add(body.length)
      ((t2 - t1) - (t1 - t0)) / 1e6
    } finally conn.close()
    b.layer("api.query_self_ms", Stats.median(diffs), "ms")

    // core: Catalyst answers must match the routed ones
    (0 until CatalystCalls).foreach { i =>
      val q = b.queries(i % b.queries.length)
      val rows = Trace.span("core.catalyst")(e.queryCatalyst(b.db, q, PrelimK, FinalK).collect())
      b.gate(rows.map(_.getLong(1)).sameElements(b.queryHits(q).map(_.id)),
        s"Catalyst answer $i differs from the routed answer")
    }
    val t0 = System.nanoTime()
    val handle = Trace.span("core.prepare")(e.prepareServing(b.db, numParts = spark.sparkContext.defaultParallelism))
    b.layer("core.prepare_s", (System.nanoTime() - t0) / 1e9, "s")
    handle.close()

    // catalog
    val loads = (0 until CatalogLoads).map { _ =>
      val c0 = System.nanoTime()
      Catalog.load(b.root, b.db)(e.hadoopConf)
      (System.nanoTime() - c0) / 1e6
    }
    b.layer("catalog.load_ms", Stats.median(loads), "ms")

    // writes over HTTP, then a compaction, then the query that rebuilds
    // the serving handle
    Writes.probe(b)
    Trace.span("core.compact")(e.compact(b.db))
    b.queryHits(b.queries(0))

    // index: the fit functions the train path calls at this geometry
    val table = e.data(b.db).select("id", "vector").cache()
    val n = table.count()
    val p = Heuristics.defaultIndexParams(Dim)
    val (pca, pcaMs) = timeMs(Pca.fit(table, "vector", Dim, p.pcaDimension,
      sampleSize = math.min(n, 100L * Dim).toInt, seed = TrainSeed, totalRows = n))
    val projected = table.select(Coder.pcaApplyCol(spark, pca, col("vector")).as("pvec")).cache()
    val nlist = math.max(1, Heuristics.numClusters(n))
    val twoLevel = Heuristics.isTwoLevelClusteringOptimal(Engine.DefaultMaxMemoryUsage, Dim, n)
    val (centroids, kmMs) = timeMs(
      if (twoLevel) TwoLevelClustering.fit(projected, "pvec", p.pcaDimension, nlist,
        KmeansIters, TrainSeed, totalRows = n)
      else KMeansDF.fitDistributed(projected.sample(withReplacement = false,
        math.min(1.0, math.min(n, 256L * nlist).toDouble / n), TrainSeed),
        "pvec", p.pcaDimension, nlist, KmeansIters, TrainSeed))
    val pqN = 64 * 256
    val pqSample = projected
      .sample(withReplacement = false, math.min(1.0, pqN * 1.1 / n), TrainSeed).limit(pqN)
      .select(Coder.residualCol(spark, centroids, col("pvec")).as("res"))
      .collect().map(_.getSeq[Double](0).map(_.toFloat).toArray)
    val (pq, pqMs) = timeMs(ProductQuantizer.fit(pqSample, p.compressedVectorBytes,
      iters = KmeansIters, seed = TrainSeed))
    b.layer("index.pca_fit_ms", pcaMs, "ms")
    b.layer("index.kmeans_fit_ms", kmMs, "ms")
    b.layer("index.pq_fit_ms", pqMs, "ms")
    b.notes("index.kmeans_path") = if (twoLevel) "TwoLevelClustering.fit" else "KMeansDF.fitDistributed"

    val rows = projected.collect().map(_.getSeq[Double](0).toArray)
    val flat = FlatCentroids.build(centroids)
    val out = new Array[Int](rows.length)
    b.layer("index.assign_rows_per_s", rate(rows.length)(flat.nearestBatch(rows, out)), "rows/s")
    val model = Engine.IndexModel(pca, centroids, pq)
    val dir = b.runDir.resolve("probe-model").toString
    b.layer("index.model_save_ms", timeMs(IndexStore.saveModel(spark, dir, model))._2, "ms")
    b.layer("index.model_load_ms", timeMs(IndexStore.loadModel(spark, dir))._2, "ms")
    projected.unpersist()
    table.unpersist()

    // functions: the dot and normalise kernels over the ledger's rows
    val vecs = b.ledger.liveIds.take(5000).map(id => UnsafeArrayData.fromPrimitiveArray(b.ledger.vector(id)))
    val q = UnsafeArrayData.fromPrimitiveArray(Vec.normalize(b.queries(0)))
    var sink = 0.0
    b.layer("functions.dot_rows_per_s", rate(vecs.length) {
      vecs.foreach(v => sink += VectorKernels.dotFF(v, q))
    }, "rows/s")
    b.layer("functions.l2norm_rows_per_s", rate(vecs.length) {
      vecs.foreach(v => sink += VectorKernels.l2normF(v).numElements())
    }, "rows/s")
    b.gate(!sink.isNaN, "kernel probe produced NaN")
  }

  private def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Rows per second of `pass` (over `rows` rows), repeated for at least
    * 0.3 s after one untimed pass; the median pass wins.
    */
  private def rate(rows: Int)(pass: => Unit): Double = {
    pass
    val per = scala.collection.mutable.ArrayBuffer.empty[Double]
    val end = System.nanoTime() + 300000000L
    while (System.nanoTime() < end || per.length < 3) {
      val t0 = System.nanoTime()
      pass
      per += rows / ((System.nanoTime() - t0) / 1e9)
    }
    Stats.median(per.toSeq)
  }
}
