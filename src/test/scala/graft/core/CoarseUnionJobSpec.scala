package graft.core

import scala.util.Random

import graft.SparkSpec
import graft.index.IndexParams

/** The Catalyst coarse stage scores several probe chunks in ONE
  * RDD-union job ([[graft.operators.BatchANN.coarseSingleChunked]]).
  * Chunk boundaries must be result-invisible: the same partition
  * function over the same rows yields the same per-partition heaps, so
  * a query split into many chunks returns exactly what the same query
  * returns as a single chunk scan.
  *
  * Pending deletes keep the plan-free serving scan out of the way, so
  * both engines below really serve through the chunk path — the spec
  * asserts that precondition instead of assuming it.
  */
class CoarseUnionJobSpec extends SparkSpec {

  private val D = 16
  private val Seed = 31L

  // chunk 4 << nprobe: the multi-chunk union job
  private lazy val chunked: Engine = {
    val e = new Engine(spark, tmpDir("graft-unionjob")) {
      override protected def chooseCodedBucketShift(n: Long, nlist: Int,
                                                    d: Int, m: Int): Int = 2
      override protected def probePushChunk: Int = 4
    }
    val rnd = new Random(Seed)
    val centers = Array.fill(12, D)(rnd.nextGaussian().toFloat)
    val vecs = Seq.tabulate(3000) { i =>
      val c = centers(i % 12)
      Array.tabulate(D)(j => c(j) + 0.3f * rnd.nextGaussian().toFloat)
    }
    e.create("db", vectorDimension = D)
    e.addLocal("db", vecs, Seq.tabulate(3000)(i => s"""{"i":$i}"""))
    e.train("db", params = Some(IndexParams(D, D, 4, omitOpq = true)),
      kmeansIters = 6, seed = Seed, minTrainRows = 1)
    e.remove("db", Seq(1L, 2L, 3L))
    e
  }

  // the default chunk size on the same root: every probe list is one chunk
  private lazy val single: Engine = new Engine(spark, chunked.root)

  private def results(e: Engine, q: Array[Float]): Seq[(Int, Long, String, Double)] =
    e.queryCatalyst("db", q, preliminaryTopK = 200, finalTopK = 20)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSeq

  test("union-job coarse over several chunks is bit-identical to one chunk (pending deletes)") {
    val doc = chunked.load("db")
    assert(doc.numPendingDeletes > 0, "fixture must hold pending deletes")
    assert(doc.nProbe > 4, "fixture must span multiple probe chunks")
    val rnd = new Random(Seed + 1)
    val qs = Seq.fill(6)(Array.fill(D)(rnd.nextGaussian().toFloat))
    val model = chunked.indexModel(doc)
    for (q <- qs) {
      val qp = model.pca.applyLocal(q)
      val probes = model.nearestClusters(qp, doc.nProbe)
      assert(chunked.servingScanCoarse(doc, qp, probes, 200).isEmpty,
        "plan-free scan answered - the chunk path is not under test")
      assert(chunked.store.chunks(doc, probes).length > 1)
      assert(single.store.chunks(single.load("db"), probes).length == 1)
    }
    val many = qs.map(results(chunked, _))
    val one = qs.map(results(single, _))
    assert(many == one, "multi-chunk union-job coarse diverged from one chunk")
    assert(many.forall(_.nonEmpty))
    assert(!many.flatten.exists(r => Set(1L, 2L, 3L)(r._2)),
      "a pending-deleted id was served")
  }
}
