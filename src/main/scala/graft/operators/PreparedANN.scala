package graft.operators

import scala.collection.mutable
import scala.collection.mutable.PriorityQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.core.Engine.IndexModel

/** Executor-resident serving blocks for the prepared low-latency query
  * path (reference mindb.py:368-442 semantics, served the way the
  * reference actually serves them: from memory).
  *
  * The regular trained path builds a Catalyst plan per query — correct,
  * and the right shape for batches, but a single query pays plan
  * analysis plus several job round-trips: a ~600 ms p50 at 10M vectors
  * where the in-memory reference gates at 30 ms. This module pins the
  * COVERING coded table (cluster_id, id, code, vector, metadata) into
  * partition-local primitive-array blocks, cached once; a query is then
  * ONE `sc.runJob` whose tasks fuse the coarse ADC scan and the exact
  * rerank scoring over only the probed clusters, followed by a
  * driver-side merge of ≤ partitions·prelimK candidates.
  *
  * Every arithmetic step replicates the regular path bit-for-bit:
  *  - ADC: reconstruction `centroid + codebook residual` per row, Σ(qp−r)²
  *    in left-to-right double, bounded heap under (dist asc, id asc) —
  *    the [[BatchANN.coarseCandidates]] kernel verbatim;
  *  - rerank: Σ v·q in left-to-right double over the stored float vectors
  *    — the codegen `dot` kernel
  *    ([[graft.functions.VectorKernels.dotFF]]) verbatim;
  * so a prepared query returns EXACTLY the rows `Engine.query` returns
  * (gated by the `prepared_knn` oracle row, which replays the full
  * two-stage computation in DuckDB, and by PreparedIndexSpec equality).
  *
  * At cluster scale this is the standard serving layout: each executor
  * holds its slice of the coded table (ids 8B + codes m·1B + vectors
  * d·4B + metadata per row — the same artifacts the reference holds in
  * one process, spread over the cluster), and a query fans one tiny task
  * per partition instead of planning a distributed scan.
  */
object PreparedANN {

  /** One IVF cluster's rows in flat primitive arrays: `codes` holds
    * m bytes per row (PQ codebook entries are 256-wide so a byte spans
    * the code space; read back with `& 0xFF`), `vecs` d floats per row.
    */
  final class ClusterBlock(
      val ids: Array[Long],
      val codes: Array[Byte],
      val vecs: Array[Float],
      val meta: Array[String]) extends Serializable {
    def size: Int = ids.length
  }

  /** A surviving candidate: ADC distance (the preliminary-stage key),
    * exact cosine (the rerank key, computed in-task from the co-located
    * vector) and the hydrated metadata.
    */
  final case class Cand(adcDist: Double, id: Long, sim: Double, meta: String)

  /** Fold `(cluster_id, covering row)` pairs into per-cluster primitive
    * blocks — shared by the distributed prepare-time build and the
    * driver-local side-buffer build for post-prepare appends.
    */
  def foldBlocks(it: Iterator[(Int, org.apache.spark.sql.Row)])
      : Map[Int, ClusterBlock] = {
    val ids = mutable.Map.empty[Int, mutable.ArrayBuilder.ofLong]
    val codes = mutable.Map.empty[Int, mutable.ArrayBuilder.ofByte]
    val vecs = mutable.Map.empty[Int, mutable.ArrayBuilder.ofFloat]
    val metas = mutable.Map.empty[Int, mutable.ArrayBuffer[String]]
    it.foreach { case (cid, r) =>
      ids.getOrElseUpdate(cid, new mutable.ArrayBuilder.ofLong) += r.getLong(1)
      val cb = codes.getOrElseUpdate(cid, new mutable.ArrayBuilder.ofByte)
      r.getSeq[Int](2).foreach(c => cb += c.toByte)
      val vb = vecs.getOrElseUpdate(cid, new mutable.ArrayBuilder.ofFloat)
      r.getSeq[Float](3).foreach(vb += _)
      metas.getOrElseUpdate(cid, mutable.ArrayBuffer.empty[String]) +=
        (if (r.isNullAt(4)) null else r.getString(4))
    }
    ids.keysIterator.map { cid =>
      cid -> new ClusterBlock(ids(cid).result(), codes(cid).result(),
        vecs(cid).result(), metas(cid).toArray)
    }.toMap
  }

  /** Pin the covering coded table into `numParts` cached partitions of
    * cluster-keyed blocks. One shuffle, executed once at prepare time.
    *
    * NO SHUFFLE (r15): the build previously repartitioned on cluster_id
    * — a full exchange of the covering rows, whose spill is the table's
    * size (~31 GB at 10M×768: it survived the grouped-write train only
    * to ENOSPC the first routed query's auto-prepare,
    * evalruns_r15/scale_10m_768_opq.log). But cluster co-location was
    * never REQUIRED: every partition is scanned per query and the
    * preliminary merge is global by (adc, id), so a cluster whose rows
    * land as PARTIAL blocks in several partitions serves identically —
    * each partial enters its partition's heap, the driver merge unions
    * them. `coalesce` (narrow, zero exchange) merges the scan's file
    * splits down to `numParts` for the serving task shape.
    *
    * SMALL tables (fewer scan splits than `numParts`): coalesce cannot
    * RAISE a partition count, so the pinned block set would drop to the
    * split count and cut per-query serve parallelism (~a 500 MB table
    * on 32 cores would pin ~4 serve tasks — ADVICE r15). Those take a
    * round-robin `repartition(numParts)` instead — rows, not
    * cluster-keyed (co-location still not required) — whose exchange is
    * bounded by the small table's size, the regime where shuffle
    * scratch is harmless; the zero-shuffle path is kept exactly where
    * the exchange was the ENOSPC risk (tables already wider than
    * `numParts` splits).
    */
  def buildBlocks(coded: DataFrame, numParts: Int): RDD[Map[Int, ClusterBlock]] = {
    val src = coded.select("cluster_id", "id", "code", "vector", "metadata")
    // partition-count probe via the already-planned internal RDD —
    // `src.rdd` would wrap the plan in a second to-external-row
    // deserializer stage just to read a count (ADVICE r16 nit)
    val srcParts = src.queryExecution.toRdd.getNumPartitions
    val shaped =
      if (srcParts >= numParts) src.coalesce(numParts)
      else src.repartition(numParts)
    shaped.rdd
      .mapPartitions(it =>
        Iterator.single(foldBlocks(it.map(r => (r.getInt(0), r)))))
  }

  /** Serve one query against one partition's blocks: ADC top-`prelimK`
    * over the probed clusters present here (BatchANN math), then exact
    * cosine over just those survivors (dotFF math). `deleted` is the
    * sorted pending-delete id set — rows in it never enter the heap,
    * matching the regular path's anti-join-before-ADC.
    *
    * `pred` (nullable) is the PUSHED metadata predicate of the filtered
    * under-fill round: when set, only rows it accepts enter the heap, so
    * the partition's survivors are its top-`prelimK` MATCHING rows by
    * (adc, id) — the limit object the pre-r15 geometric widening loop
    * approximated round by round. It is gated BEHIND the heap bound:
    * once the heap is full, only rows whose ADC distance would actually
    * enter pay an evaluation (~prelimK·ln(n/prelimK) for that phase).
    * While the heap is still FILLING, though, every scanned non-deleted
    * row is evaluated — under a selective predicate that fill phase
    * dominates at ~prelimK/selectivity evaluations (ADVICE r15: the
    * earlier comment overstated the bound as if it held from row one),
    * so a costly predicate on a rare-match filter costs more than the
    * full-heap arithmetic alone suggests.
    */
  def servePartition(blocks: Map[Int, ClusterBlock], model: IndexModel,
                     probes: Array[Int], qp: Array[Float], qn: Array[Float],
                     prelimK: Int, deleted: Array[Long],
                     pred: (Long, String) => Boolean = null): Array[Cand] = {
    val centroids = model.centroids
    val codebooks = model.pq.codebooks
    val subDim = model.pq.subDim
    val m = codebooks.length
    val d = qn.length
    // max-heap on (dist, id, cluster, row): head = worst kept under
    // (dist asc, id asc) — same ordering as the BatchANN heap
    val heapOrd =
      Ordering.by[(Double, Long, Int, Int), (Double, Long)](e => (e._1, e._2))
    val heap = PriorityQueue.empty[(Double, Long, Int, Int)](heapOrd)
    var pi = 0
    while (pi < probes.length) {
      val cid = probes(pi)
      blocks.get(cid).foreach { blk =>
        val cc = centroids(cid)
        val n = blk.size
        var row = 0
        while (row < n) {
          val id = blk.ids(row)
          if (deleted.length == 0 ||
              java.util.Arrays.binarySearch(deleted, id) < 0) {
            val base = row * m
            // FUSED reconstruct+distance (r18): the old shape built the
            // full p-dim reconstruction into `recon` before a distance
            // loop that early-exits after a handful of dims once the
            // heap is full — most of the reconstruction work was never
            // read. Same per-dim expression (cc.toDouble + cb, float
            // query minus double) and accumulation order → kept rows'
            // dists are bit-identical; only dims past the (per-block,
            // see below) exit are skipped.
            val full = heap.size >= prelimK
            val bound = if (full) heap.head._1 else Double.MaxValue
            // bound check hoisted to once per subquantizer (r18b): dist
            // only grows (+= df*df), so a row over the bound at dim t
            // stays over it at its block end — same rows kept, same dist
            // bits (the += sequence of kept rows is untouched).
            //
            // subDim==8 blocks use the PAIRWISE-TREE grouping (r18c):
            // partial = ((s0+s1)+(s2+s3)) + ((s4+s5)+(s6+s7)), dist +=
            // partial in j order. This REGROUPS the FP sum (not
            // bit-identical to the old sequential fold) — the DuckDB
            // replay (TrainedFixture.replayCtes) and BOTH BatchANN
            // branches compute the SAME grouping, so every path and the
            // oracle stay hash-exact together. Why: the sequential
            // dist += df*df chain is latency-bound (one dependent FP add
            // per dim); the depth-3 tree halves measured scan cost
            // (ADC micro-profile, CHANGES_r18.md: 123 → 68 ns/row at the
            // 35M geometry).
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
    // exact rerank scoring fused in-task: the survivors' vectors are
    // co-located, so the global merge needs no second fetch round-trip
    heap.dequeueAll[(Double, Long, Int, Int)].iterator.map { case (dist, id, cid, row) =>
      val blk = blocks(cid)
      val vo = row * d
      var s = 0.0
      var i = 0
      while (i < d) { s += blk.vecs(vo + i).toDouble * qn(i).toDouble; i += 1 }
      Cand(dist, id, s, blk.meta(row))
    }.toArray
  }

  /** Columnar wire form of one partition's survivors: task results ride
    * the (Java) closure serializer, and an `Array[Cand]` of ~500 case
    * objects per task costs object-graph serialization on the executor
    * AND deserialization on the driver's result-getter — per-query
    * driver-side work that caps concurrent qps (EVAL_r14: 52.8 measured
    * vs ~102 implied by task-CPU at 35M). Four primitive/string arrays
    * serialize as flat blocks instead.
    */
  final class CandBatch(val dists: Array[Double], val ids: Array[Long],
                        val sims: Array[Double], val metas: Array[String])
    extends Serializable {
    def toCands: Array[Cand] =
      Array.tabulate(ids.length)(i => Cand(dists(i), ids(i), sims(i), metas(i)))
  }

  /** [[servePartition]] with the columnar wire format — the form the
    * serving job ships back to the driver.
    */
  def servePartitionBatch(blocks: Map[Int, ClusterBlock], model: IndexModel,
                          probes: Array[Int], qp: Array[Float], qn: Array[Float],
                          prelimK: Int, deleted: Array[Long],
                          pred: (Long, String) => Boolean = null): CandBatch = {
    val cands = servePartition(blocks, model, probes, qp, qn, prelimK,
      deleted, pred)
    new CandBatch(cands.map(_.adcDist), cands.map(_.id), cands.map(_.sim),
      cands.map(_.meta))
  }

  /** Driver-side preliminary merge: global top-`prelimK` by (adc, id) —
    * the same candidate set the regular path's coarse stage collects.
    * Exposed separately from [[merge]] so the filtered serving path can
    * evaluate its metadata predicate against the preliminary candidates
    * (the regular path filters the hydrated candidate frame at exactly
    * this point) before the final rerank cut.
    */
  def mergePrelim(parts: Array[Array[Cand]], prelimK: Int): Array[Cand] =
    parts.iterator.flatten.toArray.sortBy(c => (c.adcDist, c.id)).take(prelimK)

  /** Final rerank cut: top-`finalK` by (cosine desc, id). */
  def rerankCut(cands: Array[Cand], finalK: Int): Array[Cand] =
    cands.sortBy(c => (-c.sim, c.id)).take(finalK)

  /** Driver-side merge: global preliminary top-`prelimK` by (adc, id) —
    * the window the regular path computes — then final top-`finalK` by
    * (cosine desc, id).
    */
  def merge(parts: Array[Array[Cand]], prelimK: Int,
            finalK: Int): Array[Cand] =
    rerankCut(mergePrelim(parts, prelimK), finalK)
}
