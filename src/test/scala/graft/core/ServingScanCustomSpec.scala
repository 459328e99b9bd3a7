package graft.core

import scala.util.Random

import graft.SparkSpec
import graft.index.IndexParams

/** Bit-identity and staleness gates for the plan-free serving scan
  * ([[ServingScan]]): its coarse candidate array must equal the batch
  * path's at q=1 EXACTLY (the Catalyst chunk-union scan `prunedLive`
  * scored by `BatchANN.coarseCandidates` — same kernel, same cut; any
  * drift means the reader surfaced different rows), `queryCatalyst` must
  * return `queryBatchTrained`'s rows, and the per-epoch listing must be
  * invalidated by the same-version post-train append exactly like the
  * cached table frame is.
  */
class ServingScanCustomSpec extends SparkSpec {

  private val D = 16
  private val Seed = 11L

  private def buildEngine(dir: String, n: Int = 2400,
                          minSplit: Long = 4L << 20): Engine = {
    val e = new Engine(spark, tmpDir(dir)) {
      override protected def chooseCodedBucketShift(nn: Long, nlist: Int,
                                                    d: Int, m: Int): Int = 2
      override protected def probePushChunk: Int = 4 // multi-chunk batch reference
      override protected def servingScanMinSplitBytes: Long = minSplit
    }
    val rnd = new Random(Seed)
    val centers = Array.fill(12, D)(rnd.nextGaussian().toFloat)
    val vecs = Seq.tabulate(n) { i =>
      val c = centers(i % 12)
      Array.tabulate(D)(j => c(j) + 0.3f * rnd.nextGaussian().toFloat)
    }
    e.create("db", vectorDimension = D)
    e.addLocal("db", vecs, Seq.tabulate(n)(i => s"""{"i":$i}"""))
    e.train("db", params = Some(IndexParams(D, D, 4, omitOpq = true)),
      kmeansIters = 4, seed = Seed, minTrainRows = 1)
    e
  }

  import ServingScanCustomSpec.{batchCoarse, batchRows}

  private def compareAllShapes(e: Engine): Unit = {
    val doc = e.load("db")
    assert(doc.codedBucketShift >= 0 && doc.isTrained)
    val model = e.indexModel(doc)
    val rnd = new Random(Seed + 1)
    val probeShapes = Seq(
      Array.range(0, doc.numClusters),              // every cluster
      Array.range(0, math.min(5, doc.numClusters)), // one bucket-ish run
      Array(doc.numClusters - 1),                   // single trailing cluster
      Array.range(0, doc.numClusters, 3))           // strided across buckets
    probeShapes.zipWithIndex.foreach { case (probes, pi) =>
      val q = Array.fill(D)(rnd.nextGaussian().toFloat)
      val qp = model.pca.applyLocal(q)
      val custom = e.servingScanCoarse(doc, qp, probes, 50)
      val ref = batchCoarse(e, doc, qp, probes, 50)
      assert(custom.toSeq == ref.toSeq,
        s"shape $pi: custom scan coarse diverged from the batch path")
      assert(ref.nonEmpty, s"shape $pi: empty coarse result undermines the gate")
    }
  }

  test("array layout: custom coarse bit-equal to Catalyst chunks, all probe shapes") {
    compareAllShapes(buildEngine("graft-sscan-arr"))
  }

  test("same-version post-train append invalidates the epoch listing") {
    val e = buildEngine("graft-sscan-stale", n = 2000)
    val doc0 = e.load("db")
    val model = e.indexModel(doc0)
    val rnd = new Random(Seed + 2)
    val q = Array.fill(D)(rnd.nextGaussian().toFloat)
    val qp = model.pca.applyLocal(q)
    val probes = Array.range(0, doc0.numClusters)
    // prime the epoch cache
    assert(e.servingScanCoarse(doc0, qp, probes, 2000).nonEmpty)
    // post-train add: fused assign+encode appends coded rows under the
    // SAME index version — the listing must pick them up
    e.addLocal("db", Seq.tabulate(50)(i =>
      Array.fill(D)(rnd.nextGaussian().toFloat)),
      Seq.tabulate(50)(i => s"""{"new":$i}"""))
    val doc1 = e.load("db")
    val custom = e.servingScanCoarse(doc1, qp, probes, 5000)
    assert(custom.toSeq == batchCoarse(e, doc1, qp, probes, 5000).toSeq)
    assert(custom.exists(_._1 > doc0.maxId),
      "appended rows never surfaced through the custom scan - stale epoch listing")
  }

  test("full query path equality: knob on vs knob off") {
    val e = buildEngine("graft-sscan-e2e")
    val rnd = new Random(Seed + 3)
    val qs = Array.fill(4)(Array.fill(D)(rnd.nextGaussian().toFloat))
    // "knob on" = the plan-free scan, "knob off" = its Catalyst
    // reference, the batch path at q=1
    qs.foreach { q =>
      val rows = e.queryCatalyst("db", q, 200, 20).collect().toSeq.map(_.toSeq)
      assert(rows.length == 20)
      assert(rows == batchRows(e, q, 200, 20),
        "queryCatalyst rows differ from the batch path at q=1")
    }
  }

  test("multi-range tasks: coarse + fetch + e2e stay exact (midpoint-rule footer filter)") {
    // 1 KB split floor → every file splits into many byte ranges, and a
    // file's single row group has its midpoint in exactly ONE of them.
    // Without the midpoint-rule filtering of the cached footer, every
    // range re-read every row group: duplicate coarse candidates and
    // N× fetch rows (the r17 scaleeval_35m_final equality-gate failure,
    // reproduced and pinned here at spec scale).
    val e = buildEngine("graft-sscan-ranges", minSplit = 1L << 10)
    val doc = e.load("db")
    val model = e.indexModel(doc)
    val rnd = new Random(Seed + 21)
    val q = Array.fill(D)(rnd.nextGaussian().toFloat)
    val qp = model.pca.applyLocal(q)
    val probes = Array.range(0, doc.numClusters)
    val cand = e.servingScanCoarse(doc, qp, probes, 100)
    assert(cand.map(_._1).distinct.length == cand.length,
      "duplicate candidate ids - a row group was read by several ranges")
    assert(cand.toSeq == batchCoarse(e, doc, qp, probes, 100).toSeq)
    val fetched = e.servingScanFetchRows(doc, cand)
    assert(fetched.map(_._1).sorted.toSeq == cand.map(_._1).sorted.toSeq,
      "fetch rows are not exactly the candidate ids")
    val res = e.queryCatalyst("db", q, 100, 20).collect().map(_.toSeq).toSeq
    assert(res == batchRows(e, q, 100, 20))
  }

  test("custom fetch returns exactly the rows the Catalyst fetch scan returns") {
    val e = buildEngine("graft-sscan-fetch")
    val doc = e.load("db")
    val model = e.indexModel(doc)
    val rnd = new Random(Seed + 7)
    val q = Array.fill(D)(rnd.nextGaussian().toFloat)
    val qp = model.pca.applyLocal(q)
    val probes = Array.range(0, doc.numClusters)
    val candRows = e.servingScanCoarse(doc, qp, probes, 80)
    assert(candRows.nonEmpty)
    val custom = e.servingScanFetch(doc, candRows)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getString(2)))
      .sortBy(_._1).toSeq
    import org.apache.spark.sql.functions._
    val old = e.store.prunedLive(doc, candRows.map(_._3).distinct)
      .select("id", "vector", "metadata")
      .filter(col("id").isInCollection(
        candRows.map(r => java.lang.Long.valueOf(r._1)).toIndexedSeq))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(custom == old, "custom fetch rows diverged from the Catalyst fetch")
    assert(custom.map(_._1).toSet == candRows.map(_._1).toSet,
      "fetch did not return exactly the candidate ids")
  }

  test("filtered query path equality: knob on vs knob off") {
    val e = buildEngine("graft-sscan-filt")
    import org.apache.spark.sql.functions._
    // three regimes: the first round fills (~50%), one pushed round (the
    // batch path at q=1, ~3%), the exact flat fallback (id < 10)
    val preds = Seq(
      get_json_object(col("metadata"), "$.i").cast("long") % 2 === 0,
      get_json_object(col("metadata"), "$.i").cast("long") % 29 === 0,
      col("id") < 10L)
    val rnd = new Random(Seed + 9)
    val qs = Array.fill(3)(Array.fill(D)(rnd.nextGaussian().toFloat))
    // knob on/off as in the unfiltered test
    for (pred <- preds; q <- qs) {
      val rows = e.queryCatalyst("db", q, 200, 20, Some(pred)).collect().toSeq.map(_.toSeq)
      assert(rows.nonEmpty)
      assert(rows == batchRows(e, q, 200, 20, Some(pred)),
        s"filtered queryCatalyst rows differ from the batch path under $pred")
    }
  }

  test("zero-hit shapes: empty buckets and empty candidate sets plan zero tasks") {
    // ADVICE r17 high: the probe-slice branch divided by nRanges — probes
    // landing only in missing/empty bucket dirs, or a fetch over an empty
    // candidate set, threw ArithmeticException on a legal query
    val bc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        new org.apache.hadoop.conf.Configuration(false)))
    val e1 = new ServingScan.Epoch(1,
      Map(0 -> Array(("f0", 10L))), bc, "", "", maxTaskBytes = 512L << 20)
    // probes 4,5 -> bucket 2: absent from bucketFiles
    assert(ServingScan.planTasks(e1, Array(4, 5), parallelism = 32).isEmpty)
    // bucket present but with an empty file array
    val e2 = new ServingScan.Epoch(1,
      Map(2 -> Array.empty[(String, Long)]), bc, "", "",
      maxTaskBytes = 512L << 20)
    assert(ServingScan.planTasks(e2, Array(4), parallelism = 32).isEmpty)
    // engine-level: a fetch over zero coarse candidates returns an empty
    // row set (not an exception) and the e2e query serves an empty frame
    val e = buildEngine("graft-sscan-zero", n = 600)
    val doc = e.load("db")
    assert(e.servingScanFetchRows(doc, Array.empty).isEmpty)
  }

  test("footer cache is byte-bounded: eviction keeps resident bytes under the cap") {
    val e = buildEngine("graft-sscan-footer")
    val doc = e.load("db")
    val model = e.indexModel(doc)
    val rnd = new Random(Seed + 31)
    val q = Array.fill(D)(rnd.nextGaussian().toFloat)
    val qp = model.pca.applyLocal(q)
    val probes = Array.range(0, doc.numClusters)
    val saved = ServingScan.footerCacheMaxBytes
    try {
      ServingScan.footerCacheMaxBytes = 8L << 10 // ~2 footers at 3 cols
      ServingScan.footerCacheClear()
      val cand = e.servingScanCoarse(doc, qp, probes, 50)
      assert(cand.nonEmpty)
      val (entries, bytes) = ServingScan.footerCacheStats
      assert(entries >= 1, "scan never populated the footer cache")
      assert(bytes <= ServingScan.footerCacheMaxBytes,
        s"footer cache resident bytes $bytes exceed the cap")
      // correctness under heavy eviction: same candidates as the batch path
      assert(cand.toSeq == batchCoarse(e, doc, qp, probes, 50).toSeq)
    } finally {
      ServingScan.footerCacheMaxBytes = saved
    }
  }

  test("cross-driver same-version coded append is served after a doc re-read (epoch stamp)") {
    // two Engine instances over ONE root = two drivers. r17's epoch was
    // keyed (db, indexVersion) only: driver A's listing stayed stale
    // until a version bump when driver B appended coded rows (VERDICT
    // r17 #3). The epoch now carries the doc's data stamp, so A rebuilds
    // its listing as soon as its TTL'd doc re-read shows B's save.
    val root = tmpDir("graft-sscan-xdriver")
    def mk(): Engine = new Engine(spark, root) {
      override protected def chooseCodedBucketShift(nn: Long, nlist: Int,
                                                    d: Int, m: Int): Int = 2
      override protected def probePushChunk: Int = 4
    }
    val a = mk()
    val rnd = new Random(Seed + 41)
    val centers = Array.fill(12, D)(rnd.nextGaussian().toFloat)
    val vecs = Seq.tabulate(1500) { i =>
      val c = centers(i % 12)
      Array.tabulate(D)(j => c(j) + 0.3f * rnd.nextGaussian().toFloat)
    }
    a.create("db", vectorDimension = D)
    a.addLocal("db", vecs, Seq.tabulate(1500)(i => s"""{"i":$i}"""))
    a.train("db", params = Some(graft.index.IndexParams(D, D, 4, omitOpq = true)),
      kmeansIters = 4, seed = Seed, minTrainRows = 1)
    val doc0 = a.load("db")
    val model = a.indexModel(doc0)
    val q = Array.fill(D)(rnd.nextGaussian().toFloat)
    val qp = model.pca.applyLocal(q)
    val probes = Array.range(0, doc0.numClusters)
    // prime driver A's epoch
    assert(a.servingScanCoarse(doc0, qp, probes, 2000).nonEmpty)
    // driver B appends under the SAME index version
    val b = mk()
    b.addLocal("db", Seq.tabulate(40)(_ =>
      Array.fill(D)(rnd.nextGaussian().toFloat)),
      Seq.tabulate(40)(i => s"""{"x":$i}"""))
    // driver A re-reads the doc (the TTL'd path is a fresh load here) and
    // must serve B's rows through a rebuilt epoch
    val doc1 = a.load("db")
    assert(doc1.indexVersion == doc0.indexVersion,
      "append unexpectedly bumped the index version - test shape broken")
    val custom = a.servingScanCoarse(doc1, qp, probes, 5000)
    assert(custom.exists(_._1 > doc0.maxId),
      "cross-driver appended rows never surfaced - stale epoch listing")
    assert(custom.toSeq == batchCoarse(a, doc1, qp, probes, 5000).toSeq)
  }

  test("planTasks covers every probed byte exactly once; big files range-split") {
    val bc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        new org.apache.hadoop.conf.Configuration(false)))
    // tiny files, few ranges: the probe-slice branch subdivides each
    // file's bucket probes into disjoint slices — every (file, probe)
    // pair served by exactly one task
    val tiny = Map(
      0 -> Array(("f0a", 10L), ("f0b", 10L)),
      1 -> Array(("f1a", 25L)),
      3 -> Array(("f3a", 5L), ("f3b", 5L), ("f3c", 5L)))
    val e1 = new ServingScan.Epoch(1, tiny, bc, "", "",
      maxTaskBytes = 512L << 20)
    // shift=1: probes 0,1 -> bucket 0; 2,3 -> bucket 1; 6 -> bucket 3
    val t1 = ServingScan.planTasks(e1, Array(6, 2, 0, 1, 3), parallelism = 32)
    val pairs = t1.flatMap(t => t.files.flatMap(fr => t.probes.map(p => (fr.path, p))))
    assert(pairs.distinct.length == pairs.length,
      "a (file, probe) pair landed in two tasks")
    assert(pairs.toSet == Set(
      ("f0a", 0), ("f0a", 1), ("f0b", 0), ("f0b", 1),
      ("f1a", 2), ("f1a", 3),
      ("f3a", 6), ("f3b", 6), ("f3c", 6)),
      s"coverage wrong: ${pairs.toSet}")
    assert(t1.forall(_.files.forall(fr => fr.start == 0 && fr.len == fr.fileLen)))
    // big files: range-split so a 3-file geometry still spreads over the
    // cores — every byte of every probed file covered exactly once
    val gb = 600L << 20
    val big = Map(0 -> Array(("b0", gb)), 1 -> Array(("b1", gb)),
      2 -> Array(("b2", gb)))
    val e2 = new ServingScan.Epoch(1, big, bc, "", "",
      maxTaskBytes = 512L << 20)
    val t2 = ServingScan.planTasks(e2, Array(0, 2, 4), parallelism = 32)
    assert(t2.length >= 32, s"expected >=32 tasks, got ${t2.length}")
    Seq("b0", "b1", "b2").foreach { f =>
      val ranges = t2.flatMap(_.files).filter(_.path == f).sortBy(_.start)
      assert(ranges.head.start == 0)
      assert(ranges.map(_.len).sum == gb, s"$f bytes not covered exactly")
      ranges.sliding(2).foreach {
        case Array(a, b) => assert(a.start + a.len == b.start,
          s"$f ranges overlap or gap")
        case _ => ()
      }
      assert(ranges.forall(_.fileLen == gb))
    }
    t2.foreach(t => assert(t.probes.toSeq == t.probes.toSeq.sorted))
  }
}

/** The batch path at q=1 — the Catalyst reference the plan-free scan is
  * gated against (shared with ServingScanDeletesSpec).
  */
object ServingScanCustomSpec {

  /** `BatchANN.coarseCandidates` over `prunedLive` for one query:
    * (id, adc_dist, cluster_id), smallest (adc_dist, id) first.
    */
  def batchCoarse(e: Engine, doc: graft.catalog.CatalogDoc, qp: Array[Float],
                  probes: Array[Int], prelimK: Int): Array[(Long, Double, Int)] =
    graft.operators.BatchANN.coarseCandidates(e.spark,
        e.store.prunedLive(doc, probes), e.modelBroadcast(doc),
        Array(0L -> qp), Array(probes), prelimK)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortWith((a, b) =>
        java.lang.Double.compare(a._2, b._2) < 0 || (a._2 == b._2 && a._1 < b._1))

  /** `queryBatchTrained` for one query, as `queryCatalyst`'s
    * (rank, id, metadata, cosine_similarity) rows in rank order.
    */
  def batchRows(e: Engine, q: Array[Float], prelimK: Int, finalK: Int,
                pred: Option[org.apache.spark.sql.Column] = None): Seq[Seq[Any]] = {
    import e.spark.implicits._
    val qdf = Seq((0L, q.toSeq)).toDF("query_id", "qvec")
    e.queryBatchTrained("db", qdf, prelimK, finalK, pred).collect()
      .map(r => Seq(r.getInt(4), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2), r.getDouble(3)))
      .sortBy(_.head.asInstanceOf[Int]).toSeq
  }
}
