package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.core.Engine.IndexModel
import graft.index.{AdcHeap, AdcKernel}

/** Memory-resident serving blocks for the prepared low-latency query
  * path (reference mindb.py:368-442 semantics, served the way the
  * reference actually serves them: from memory).
  *
  * The regular trained path builds a Catalyst plan per query — correct,
  * and the right shape for batches, but a single query pays plan
  * analysis plus several job round-trips: a ~600 ms p50 at 10M vectors
  * where the in-memory reference gates at 30 ms. This module pins the
  * COVERING coded table (cluster_id, id, code, vector, metadata) into
  * primitive-array blocks, built once, in one of two forms:
  *  - a driver copy ([[concatBlocks]]) when the set is small enough: a
  *    query is one in-thread scan ([[serveLocal]]) that fuses the coarse
  *    ADC scan and the exact rerank over only the probed clusters, with
  *    no Spark job;
  *  - partition-local blocks cached on the executors otherwise: a query
  *    is ONE `sc.runJob` whose tasks run the same fused scan, followed by
  *    a driver-side merge of ≤ partitions·prelimK candidates.
  *
  * Every arithmetic step replicates the regular path bit-for-bit:
  *  - ADC: [[graft.index.AdcKernel]], the kernel [[BatchANN]]'s coarse
  *    stage runs too — per row, subquantizer blocks of
  *    (qp − (centroid + codebook residual))² added in j order (subDim 8
  *    in the pairwise-tree grouping, on vector lanes where available),
  *    into a primitive bounded heap under (dist asc, id asc);
  *  - rerank: Σ v·q in left-to-right double over the stored float vectors
  *    — the codegen `dot` kernel's arithmetic
  *    ([[graft.functions.VectorKernels.dotFF]]), four survivors per pass
  *    over q, each in its own chain;
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

    /** Estimated resident bytes: ids, codes and vectors, and per metadata
      * string 40 bytes of object plus its UTF-16 chars (8 for a null).
      */
    def bytes: Long = ids.length * 8L + codes.length + vecs.length * 4L +
      meta.iterator.map(s => if (s == null) 8L else 40L + 2L * s.length).sum
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

  /** Join each cluster's blocks across `parts` into one block (rows in
    * part order) — the driver-local serving copy of a pinned block set.
    * Consumes `parts`: each slot is cleared once its blocks are grouped
    * and each cluster's sources are dropped once joined, so building the
    * copy holds about one block set plus one cluster, not two block sets.
    */
  def concatBlocks(parts: Array[Map[Int, ClusterBlock]]): Map[Int, ClusterBlock] = {
    val byCid = mutable.HashMap.empty[Int, mutable.ArrayBuffer[ClusterBlock]]
    var p = 0
    while (p < parts.length) {
      parts(p).foreach { case (cid, b) =>
        byCid.getOrElseUpdate(cid, mutable.ArrayBuffer.empty) += b
      }
      parts(p) = null
      p += 1
    }
    val out = Map.newBuilder[Int, ClusterBlock]
    for (cid <- byCid.keys.toArray) {
      val blks = byCid.remove(cid).get
      out += cid -> (if (blks.length == 1) blks.head
                     else new ClusterBlock(Array.concat(blks.map(_.ids).toSeq: _*),
                       Array.concat(blks.map(_.codes).toSeq: _*),
                       Array.concat(blks.map(_.vecs).toSeq: _*),
                       Array.concat(blks.map(_.meta).toSeq: _*)))
    }
    out.result()
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
    * split count and cut per-query serve parallelism (~a 500 MB table on
    * 32 cores would pin ~4 serve tasks — ADVICE r15). Those take a
    * round-robin `repartition(numParts)` instead — rows, not
    * cluster-keyed (co-location still not required) — whose exchange is
    * bounded by the small table's size, the regime where shuffle
    * scratch is harmless; the zero-shuffle path is kept exactly where
    * the exchange was the ENOSPC risk (tables already wider than
    * `numParts` splits).
    *
    * SKEWED splits: a split owns only the row groups whose midpoint it
    * covers, so one large row group cut into several splits fills one of
    * them, and a coalesced partition holds at least the largest row
    * group. When that group exceeds a fair share of rows (rows/numParts,
    * from the files' footers), coalesce would pin nearly every row in one
    * serve task, so the table takes the round-robin exchange too — unless
    * its block set will be served driver-locally (within
    * `localMaxBytes`): that copy joins every partition, so their balance
    * cannot matter.
    */
  def buildBlocks(coded: DataFrame, numParts: Int,
                  localMaxBytes: Long): RDD[Map[Int, ClusterBlock]] = {
    val src = coded.select("cluster_id", "id", "code", "vector", "metadata")
    // partition-count probe via the already-planned internal RDD —
    // `src.rdd` would wrap the plan in a second to-external-row
    // deserializer stage just to read a count (ADVICE r16 nit)
    val srcParts = src.queryExecution.toRdd.getNumPartitions
    val coalesces = srcParts >= numParts && {
      val files = coded.inputFiles
      files.isEmpty || {
        val (rows, largest, bytes) = graft.core.ServingScan.rowGroupShape(
          files.toSeq, coded.sparkSession.sessionState.newHadoopConf())
        // the driver copy's byte estimate (ClusterBlock.bytes) is within
        // twice the uncompressed column bytes (UTF-16 strings) plus 40
        // bytes a row, unless dictionary encoding shrank repeated strings
        // on disk
        largest * numParts <= rows || 2 * bytes + 40 * rows <= localMaxBytes
      }
    }
    val shaped =
      if (coalesces) src.coalesce(numParts)
      else src.repartition(numParts)
    shaped.rdd
      .mapPartitions(it =>
        Iterator.single(foldBlocks(it.map(r => (r.getInt(0), r)))))
  }

  /** Serve one query against one partition's blocks: ADC top-`prelimK`
    * over the probed clusters present here, then exact cosine over just
    * those survivors — [[serveLocal]] over a single block map. `deleted`
    * is the sorted pending-delete id set — rows in it never enter the
    * heap, matching the regular path's anti-join-before-ADC.
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
                     pred: (Long, String) => Boolean = null): Array[Cand] =
    serveLocal(Array(blocks), model, probes, qp, qn, prelimK, deleted, pred)
      .toCands

  /** Serve one query against several block maps (a driver-held copy of
    * every pinned partition plus the appended-rows side buffer) with ONE
    * heap: the global top-`prelimK` by (adc, id) is the set a per-map heap
    * and a merge would keep, but a single heap's bound tightens across all
    * maps instead of refilling once per map.
    */
  def serveLocal(parts: Array[Map[Int, ClusterBlock]], model: IndexModel,
                 probes: Array[Int], qp: Array[Float], qn: Array[Float],
                 prelimK: Int, deleted: Array[Long],
                 pred: (Long, String) => Boolean = null): CandBatch =
    serveWith(new AdcKernel(model.adcTables, qp), parts, probes, qn,
      prelimK, deleted, pred)

  /** [[serveLocal]] with the caller's kernel (specs force its scalar form). */
  private[graft] def serveWith(kern: AdcKernel,
                               parts: Array[Map[Int, ClusterBlock]],
                               probes: Array[Int], qn: Array[Float],
                               prelimK: Int, deleted: Array[Long],
                               pred: (Long, String) => Boolean): CandBatch = {
    val heap = new AdcHeap(prelimK)
    // heap tag = index of the scanned block, so the rerank finds its rows
    val scanned = mutable.ArrayBuffer.empty[ClusterBlock]
    // one buffer, refilled with each probed centroid that has rows here
    var cc: Array[Double] = null
    var pi = 0
    while (pi < probes.length) {
      val cid = probes(pi)
      var widened = false
      var k = 0
      while (k < parts.length) {
        val blk = parts(k).getOrElse(cid, null)
        if (blk != null) {
          if (!widened) { cc = kern.centroid(cid, cc); widened = true }
          scanBlock(kern, heap, blk, cc, scanned.length, deleted, pred)
          scanned += blk
        }
        k += 1
      }
      pi += 1
    }
    val n = heap.sortAscending()
    // exact rerank scoring fused in: the survivors' vectors are
    // co-located, so the global merge needs no second fetch round-trip
    val sims = rerankSims(heap, n, scanned, qn)
    new CandBatch(java.util.Arrays.copyOf(heap.dists, n),
      java.util.Arrays.copyOf(heap.ids, n), sims,
      Array.tabulate(n)(i => scanned(heap.tags(i)).meta(heap.rows(i))))
  }

  // One block's rows into the heap. The early-exit bound is re-read only
  // when the heap changes.
  private def scanBlock(kern: AdcKernel, heap: AdcHeap, blk: ClusterBlock,
                        cc: Array[Double], tag: Int, deleted: Array[Long],
                        pred: (Long, String) => Boolean): Unit = {
    val m = kern.m
    val ids = blk.ids
    val codes = blk.codes
    var bound = heap.bound
    var row = 0
    while (row < ids.length) {
      val id = ids(row)
      if (deleted.length == 0 ||
          java.util.Arrays.binarySearch(deleted, id) < 0) {
        val dist = kern.dist(codes, row * m, cc, bound)
        if (heap.admits(dist, id) &&
            (pred == null || pred(id, blk.meta(row)))) {
          heap.offer(dist, id, tag, row)
          bound = heap.bound
        }
      }
      row += 1
    }
  }

  // Σ v·q per survivor, each a left-to-right double sum over the stored
  // float vector (the codegen `dot`, VectorKernels.dotFF); four survivors
  // share a pass over q, each in its own chain.
  private def rerankSims(heap: AdcHeap, n: Int,
                         scanned: mutable.ArrayBuffer[ClusterBlock],
                         qn: Array[Float]): Array[Double] = {
    val d = qn.length
    val q = new Array[Double](d)
    var t = 0
    while (t < d) { q(t) = qn(t); t += 1 }
    val sims = new Array[Double](n)
    var i = 0
    while (i + 4 <= n) {
      val v0 = scanned(heap.tags(i)).vecs; val o0 = heap.rows(i) * d
      val v1 = scanned(heap.tags(i + 1)).vecs; val o1 = heap.rows(i + 1) * d
      val v2 = scanned(heap.tags(i + 2)).vecs; val o2 = heap.rows(i + 2) * d
      val v3 = scanned(heap.tags(i + 3)).vecs; val o3 = heap.rows(i + 3) * d
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      t = 0
      while (t < d) {
        val x = q(t)
        s0 += v0(o0 + t) * x
        s1 += v1(o1 + t) * x
        s2 += v2(o2 + t) * x
        s3 += v3(o3 + t) * x
        t += 1
      }
      sims(i) = s0; sims(i + 1) = s1; sims(i + 2) = s2; sims(i + 3) = s3
      i += 4
    }
    while (i < n) {
      val v = scanned(heap.tags(i)).vecs; val o = heap.rows(i) * d
      var s = 0.0
      t = 0
      while (t < d) { s += v(o + t) * q(t); t += 1 }
      sims(i) = s
      i += 1
    }
    sims
  }

  /** Columnar wire form of one partition's survivors: task results ride
    * the (Java) closure serializer, and an `Array[Cand]` of ~500 case
    * objects per task costs object-graph serialization on the executor
    * AND deserialization on the driver's result-getter — per-query
    * driver-side work that caps concurrent qps (EVAL_r14: 52.8 measured
    * vs ~102 implied by task-CPU at 35M). Four primitive/string arrays
    * serialize as flat blocks instead. Ascending by (adc, id).
    */
  final class CandBatch(val dists: Array[Double], val ids: Array[Long],
                        val sims: Array[Double], val metas: Array[String])
    extends Serializable {
    def toCands: Array[Cand] =
      Array.tabulate(ids.length)(i => Cand(dists(i), ids(i), sims(i), metas(i)))
  }

  /** Driver-side preliminary merge: global top-`prelimK` by (adc, id) —
    * the same candidate set the regular path's coarse stage collects.
    * The filtered serving path evaluates its metadata predicate against
    * these preliminary candidates (the regular path filters the hydrated
    * candidate frame at exactly this point) before the final rerank cut.
    */
  def mergePrelim(parts: Array[Array[Cand]], prelimK: Int): Array[Cand] = {
    val heap = new AdcHeap(prelimK)
    var p = 0
    while (p < parts.length) {
      val cs = parts(p)
      var i = 0
      while (i < cs.length) { heap.keep(cs(i).adcDist, cs(i).id, p, i); i += 1 }
      p += 1
    }
    val n = heap.sortAscending()
    Array.tabulate(n)(i => parts(heap.tags(i))(heap.rows(i)))
  }

  /** Final rerank cut: top-`finalK` by (cosine desc, id). */
  def rerankCut(cands: Array[Cand], finalK: Int): Array[Cand] =
    cands.sortBy(c => (-c.sim, c.id)).take(finalK)
}
