package graft

import scala.collection.mutable.PriorityQueue

import graft.core.Engine.IndexModel
import graft.operators.PreparedANN.{Cand, ClusterBlock}

/** Test-scope reference for the ADC kernel specs: the per-partition
  * serving arithmetic as it stood before the shared kernel — float model
  * tables widened per term, a boxed-tuple `PriorityQueue` under
  * (dist asc, id asc), a sequential rerank dot — plus the per-part heap
  * and sort merge the driver-local serve used to run.
  */
object AdcReference {

  def servePartition(blocks: Map[Int, ClusterBlock], model: IndexModel,
                     probes: Array[Int], qp: Array[Float], qn: Array[Float],
                     prelimK: Int, deleted: Array[Long],
                     pred: (Long, String) => Boolean = null): Array[Cand] = {
    val centroids = model.centroids
    val codebooks = model.pq.codebooks
    val subDim = model.pq.subDim
    val m = codebooks.length
    val d = qn.length
    val heapOrd =
      Ordering.by[(Double, Long, Int, Int), (Double, Long)](e => (e._1, e._2))
    val heap = PriorityQueue.empty[(Double, Long, Int, Int)](heapOrd)
    var pi = 0
    while (pi < probes.length) {
      val cid = probes(pi)
      blocks.get(cid).foreach { blk =>
        val cc = centroids(cid)
        var row = 0
        while (row < blk.size) {
          val id = blk.ids(row)
          if (deleted.length == 0 ||
              java.util.Arrays.binarySearch(deleted, id) < 0) {
            val base = row * m
            val full = heap.size >= prelimK
            val bound = if (full) heap.head._1 else Double.MaxValue
            var dist = 0.0
            var j = 0
            if (subDim == 8) {
              while (j < m && dist <= bound) {
                val cb = codebooks(j)(blk.codes(base + j) & 0xFF)
                val off = j * subDim
                val d0 = qp(off) - (cc(off).toDouble + cb(0))
                val d1 = qp(off + 1) - (cc(off + 1).toDouble + cb(1))
                val d2 = qp(off + 2) - (cc(off + 2).toDouble + cb(2))
                val d3 = qp(off + 3) - (cc(off + 3).toDouble + cb(3))
                val d4 = qp(off + 4) - (cc(off + 4).toDouble + cb(4))
                val d5 = qp(off + 5) - (cc(off + 5).toDouble + cb(5))
                val d6 = qp(off + 6) - (cc(off + 6).toDouble + cb(6))
                val d7 = qp(off + 7) - (cc(off + 7).toDouble + cb(7))
                dist += ((d0 * d0 + d1 * d1) + (d2 * d2 + d3 * d3)) +
                  ((d4 * d4 + d5 * d5) + (d6 * d6 + d7 * d7))
                j += 1
              }
            } else {
              while (j < m && dist <= bound) {
                val cb = codebooks(j)(blk.codes(base + j) & 0xFF)
                val off = j * subDim
                var t = 0
                while (t < subDim) {
                  val df = qp(off + t) - (cc(off + t).toDouble + cb(t))
                  dist += df * df
                  t += 1
                }
                j += 1
              }
            }
            if (!full) {
              if (pred == null || pred(id, blk.meta(row)))
                heap.enqueue((dist, id, cid, row))
            } else {
              val (wd, wid, _, _) = heap.head
              if ((dist < wd || (dist == wd && id < wid)) &&
                  (pred == null || pred(id, blk.meta(row)))) {
                heap.dequeue(); heap.enqueue((dist, id, cid, row))
              }
            }
          }
          row += 1
        }
      }
      pi += 1
    }
    heap.dequeueAll[(Double, Long, Int, Int)].iterator.map { case (dist, id, cid, row) =>
      val blk = blocks(cid)
      val vo = row * d
      var s = 0.0
      var i = 0
      while (i < d) { s += blk.vecs(vo + i).toDouble * qn(i).toDouble; i += 1 }
      Cand(dist, id, s, blk.meta(row))
    }.toArray
  }

  /** The old driver-local serve: one heap per part, then a tuple-key sort. */
  def serveParts(parts: Seq[Map[Int, ClusterBlock]], model: IndexModel,
                 probes: Array[Int], qp: Array[Float], qn: Array[Float],
                 prelimK: Int, deleted: Array[Long],
                 pred: (Long, String) => Boolean = null): Array[Cand] =
    parts.iterator.flatMap(servePartition(_, model, probes, qp, qn, prelimK,
      deleted, pred)).toArray.sortBy(c => (c.adcDist, c.id)).take(prelimK)
}
