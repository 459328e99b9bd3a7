package graft.index

/** Flat row-major centroid matrix + the EXACT nearest-centroid kernel of
  * the encode stage — the train bottleneck at the reference's tested
  * ceiling (35M×64, nlist ≈ 91k: profiled 9,042 s dominated by this argmin,
  * EVAL_r09 `scale_run_35m`).
  *
  * Result contract (what every caller and the DuckDB oracle replay assume):
  * identical to the reference brute loop — left-to-right double summation
  * per centroid, strict `<`, first(lowest)-index wins ties. Two execution
  * paths, both honoring it exactly:
  *
  *  - SIMD (default where `jdk.incubator.vector` is present, detected per
  *    JVM): one [[SimdArgmin]] float pass computes all distances via
  *    qn + cn − 2·q·c on 512/256-bit lanes, then the few candidates within
  *    a conservative float-error margin (1e-4 relative vs ≤ ~1e-5 true
  *    worst-case eval error — float math can only ADD candidates, never
  *    drop the exact winner) are re-scored with the reference double loop.
  *    Measured ~10× the scalar path at nlist 91k, d 64.
  *  - scalar fallback: the same flat matrix scanned sequentially with the
  *    partial-sum early exit (memory-local form of the brute loop; the
  *    shape a cluster executor without the incubator module runs).
  *
  * A triangle-inequality parent-pruned variant was built and measured
  * first: at the target geometry (d 64, clustered corpus, nlist 91k) the
  * annulus bound prunes only ~7% of centroids and its id-indirection
  * breaks cache locality — 0.5× brute, a regression. Flat + SIMD replaces
  * it on measurement (encode_argmin rows, CHANGES_r10.md), not intuition.
  *
  * Ships to executors as ONE broadcast: n·d floats + n norms.
  */
final class FlatCentroids private (
    val n: Int, val d: Int,
    val flat: Array[Float], val cNormSq: Array[Float],
    cnMax: Float) extends Serializable {

  /** Component j of centroid c (the nested-array layout, flattened). */
  @inline def value(c: Int, j: Int): Float = flat(c * d + j)

  // per-thread SIMD scratch (distances + candidate ids) — executor task
  // threads share the broadcast instance
  @transient private lazy val scratch =
    new ThreadLocal[(Array[Float], Array[Int])] {
      override def initialValue(): (Array[Float], Array[Int]) =
        (new Array[Float](n), new Array[Int](FlatCentroids.MaxCands))
    }

  // tile scratch for the batched path: qT (d×B col-major), qn, margin,
  // dist matrix (n×B — e.g. 5.8 MB at nlist 91k on 16 lanes), candidates.
  // Per executor thread, lazily allocated, reused across every tile.
  @transient private lazy val tileScratch =
    new ThreadLocal[(Array[Float], Array[Float], Array[Float], Array[Float], Array[Int], Array[Int])] {
      override def initialValue() = {
        val b = SimdArgmin.lanes()
        (new Array[Float](d * b), new Array[Float](b), new Array[Float](b),
          new Array[Float](n * b), new Array[Int](b * FlatCentroids.MaxCands),
          new Array[Int](b))
      }
    }

  /** Exact argmin_c ‖q − centroid_c‖² (brute semantics, see class doc). */
  def nearest(q: Array[Double]): Int =
    if (FlatCentroids.simdAvailable) {
      val (dists, cand) = scratch.get()
      val qf = new Array[Float](d)
      var qnd = 0.0
      var j = 0
      while (j < d) { val v = q(j); qf(j) = v.toFloat; qnd += v * v; j += 1 }
      val qn = qnd.toFloat
      val margin = 1e-4f * (qn + cnMax + 1f)
      val cnt = SimdArgmin.candidates(flat, cNormSq, n, d, qf, qn, margin, dists, cand)
      if (cnt > 0) rescore(cand, 0, cnt, q) else nearestScalar(q)
    } else nearestScalar(q)

  /** Exact argmin for a batch of queries — the encode-pass form. On the
    * SIMD path each [[SimdArgmin.lanes]]-query tile runs with one query
    * per vector lane (no per-centroid lane reduction, the single-query
    * kernel's bottleneck); per-query exact double re-score picks the
    * final winner, so results are identical to calling [[nearest]] per
    * row — the specs assert it.
    */
  def nearestBatch(qs: Array[Array[Double]], out: Array[Int]): Unit = {
    if (!FlatCentroids.simdAvailable) {
      var i = 0
      while (i < qs.length) { out(i) = nearestScalar(qs(i)); i += 1 }
      return
    }
    val b = SimdArgmin.lanes()
    val (qT, qn, margin, dists, candIdx, candCnt) = tileScratch.get()
    var s = 0
    while (s < qs.length) {
      val live = math.min(b, qs.length - s)
      var t = 0
      while (t < b) {
        // pad trailing lanes of a ragged final tile with the first live
        // query — computed but never read back
        val q = qs(s + math.min(t, live - 1))
        require(q.length == d, s"query dim ${q.length} != $d")
        var qnd = 0.0
        var j = 0
        while (j < d) { val v = q(j); qT(j * b + t) = v.toFloat; qnd += v * v; j += 1 }
        qn(t) = qnd.toFloat
        margin(t) = 1e-4f * (qn(t) + cnMax + 1f)
        t += 1
      }
      SimdArgmin.candidatesTile(flat, cNormSq, n, d, qT, qn, margin,
        dists, candIdx, FlatCentroids.MaxCands, candCnt)
      t = 0
      while (t < live) {
        val cnt = candCnt(t)
        out(s + t) =
          if (cnt > 0) rescore(candIdx, t * FlatCentroids.MaxCands, cnt, qs(s + t))
          else nearestScalar(qs(s + t))
        t += 1
      }
      s += b
    }
  }

  /** Exact top-k nearest centroids ordered by (dist asc, id asc) — the
    * PROBE-SELECTION kernel (Q2: `nprobe` coarse clusters per query). The
    * arithmetic contract is the engine's original scalar heap loop
    * (Engine.IndexModel.nearestClusters pre-r11): per-dimension FLOAT
    * subtract and square, accumulated LEFT-TO-RIGHT in double — every
    * oracle replay (trained_knn / trained_adc_topk / prepared_knn) hashes
    * against probes selected by exactly that arithmetic, so both paths
    * here reproduce it bit-for-bit:
    *
    *  - SIMD: one float pass computes all n distances; the k-th smallest
    *    float distance + the conservative margin (same bound as
    *    [[nearest]] — float error can only ADD candidates) selects the
    *    survivors, which are re-scored with the contract loop and sorted
    *    by (dist, id). At the 100M heuristic geometry (nlist 200k, d 256,
    *    nprobe ~6k) this replaces a scalar O(nlist·d) driver loop per
    *    query — the profiled floor of the 100M prepared p50.
    *  - scalar fallback: the original bounded-heap loop verbatim.
    */
  def nearestKFloat(qp: Array[Float], k0: Int): Array[Int] = {
    val k = math.min(k0, n)
    if (k <= 0) return Array.empty
    require(qp.length == d, s"query dim ${qp.length} != $d")
    if (!FlatCentroids.simdAvailable) return nearestKScalar(qp, k)
    val (dists, _) = scratch.get()
    var qnd = 0.0
    var j = 0
    while (j < d) { val v = qp(j).toDouble; qnd += v * v; j += 1 }
    val qn = qnd.toFloat
    val margin = 1e-4f * (qn + cnMax + 1f)
    if (!SimdArgmin.distances(flat, cNormSq, n, d, qp, qn, dists))
      return nearestKScalar(qp, k)
    // k-th smallest float distance via a bounded max-heap of floats
    val kheap = new Array[Float](k)
    var hs = 0
    var c = 0
    while (c < n) {
      val v = dists(c)
      if (hs < k) { // sift up
        kheap(hs) = v; hs += 1
        var i = hs - 1
        while (i > 0 && kheap((i - 1) >> 1) < kheap(i)) {
          val p = (i - 1) >> 1
          val t = kheap(p); kheap(p) = kheap(i); kheap(i) = t; i = p
        }
      } else if (v < kheap(0)) { // replace root, sift down
        kheap(0) = v
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1; val r = l + 1
          var m = i
          if (l < k && kheap(l) > kheap(m)) m = l
          if (r < k && kheap(r) > kheap(m)) m = r
          if (m == i) done = true
          else { val t = kheap(m); kheap(m) = kheap(i); kheap(i) = t; i = m }
        }
      }
      c += 1
    }
    val thr = kheap(0) + margin
    // survivors within the margin of the float k-th — a superset of the
    // true top-k (ascending ids), re-scored with the contract arithmetic
    val cand = new scala.collection.mutable.ArrayBuilder.ofInt
    c = 0
    while (c < n) { if (dists(c) <= thr) cand += c; c += 1 }
    val ids = cand.result()
    val scored = new Array[(Double, Int)](ids.length)
    var i = 0
    while (i < ids.length) {
      val cc = ids(i)
      val off = cc * d
      var s = 0.0
      var x = 0
      while (x < d) {
        val df = qp(x) - flat(off + x) // FLOAT subtract — the contract
        s += df * df                    // float square, double accumulate
        x += 1
      }
      scored(i) = (s, cc)
      i += 1
    }
    java.util.Arrays.sort(scored, Ordering.Tuple2(
      Ordering.Double.TotalOrdering, Ordering.Int))
    Array.tabulate(k)(scored(_)._2)
  }

  /** The original bounded-heap probe-selection loop (the no-SIMD shape,
    * and the ground truth [[nearestKFloat]]'s SIMD path must match).
    */
  def nearestKScalar(qp: Array[Float], k0: Int): Array[Int] = {
    val k = math.min(k0, n)
    if (k <= 0) return Array.empty
    val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](ord)
    var i = 0
    while (i < n) {
      val off = i * d
      val full = heap.size >= k
      val ceil = if (full) heap.head._1 else Double.MaxValue
      var s = 0.0; var j = 0
      while (j < d && s <= ceil) {
        val df = qp(j) - flat(off + j); s += df * df; j += 1
      }
      if (j == d) { // not early-exited: candidate distance is exact
        if (!full) heap.enqueue((s, i))
        else if (ord.lt((s, i), heap.head)) { heap.dequeue(); heap.enqueue((s, i)) }
      }
      i += 1
    }
    val out = new Array[Int](heap.size)
    var w = heap.size - 1
    while (w >= 0) { out(w) = heap.dequeue()._2; w -= 1 } // worst-first out
    out
  }

  /** The scalar path (public so the no-SIMD shape stays benchmarkable and
    * spec-gated on any JVM).
    */
  def nearestScalar(q: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < n) {
      val off = c * d
      var s = 0.0
      var j = 0
      while (j < d && s < bestD) { val df = q(j) - flat(off + j); s += df * df; j += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  // exact double re-score of the (ascending) candidate ids — the reference
  // loop restricted to survivors, so ties resolve to the lowest index
  private def rescore(cand: Array[Int], from: Int, cnt: Int, q: Array[Double]): Int = {
    var best = cand(from)
    var bestD = Double.MaxValue
    var i = from
    while (i < from + cnt) {
      val c = cand(i)
      val off = c * d
      var s = 0.0
      var j = 0
      while (j < d && s < bestD) { val df = q(j) - flat(off + j); s += df * df; j += 1 }
      if (s < bestD) { bestD = s; best = c }
      i += 1
    }
    best
  }
}

object FlatCentroids {

  /** Candidate-buffer cap; an overflow (pathologically flat geometry)
    * falls back to the exact full scan rather than growing.
    */
  val MaxCands = 128

  /** Per-JVM feature detection — driver and each executor decide
    * independently, so a mixed cluster degrades per-node.
    */
  val simdAvailable: Boolean =
    try SimdArgmin.selfTest()
    catch { case _: Throwable => false }

  def build(centroids: Array[Array[Float]]): FlatCentroids = {
    val n = centroids.length
    require(n > 0, "FlatCentroids over empty centroid list")
    val d = centroids(0).length
    val flat = new Array[Float](n * d)
    val cNormSq = new Array[Float](n)
    var cnMax = 0f
    var i = 0
    while (i < n) {
      val c = centroids(i)
      require(c.length == d, s"ragged centroid dim at $i: ${c.length} != $d")
      System.arraycopy(c, 0, flat, i * d, d)
      var s = 0.0
      var j = 0
      while (j < d) {
        val v = c(j).toDouble
        // A non-finite centroid component would poison the SIMD distance
        // pass downstream: a single NaN distance among finite ones passes
        // SimdArgmin.distances' all-or-nothing check but corrupts the
        // bounded max-heap in nearestKFloat (NaN compares false both
        // ways), underestimating the k-th distance — reject loudly here
        // so every kernel over this matrix can assume finite arithmetic.
        require(java.lang.Double.isFinite(v),
          s"non-finite centroid component at centroid $i dim $j: $v")
        s += v * v; j += 1
      }
      cNormSq(i) = s.toFloat
      if (cNormSq(i) > cnMax) cnMax = cNormSq(i)
      i += 1
    }
    new FlatCentroids(n, d, flat, cNormSq, cnMax)
  }

  /** The reference brute loop over the nested layout — the semantic ground
    * truth the specs compare both paths against.
    */
  def brute(cs: Array[Array[Float]], arr: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val cc = cs(c)
      var s = 0.0
      var j = 0
      while (j < cc.length && s < bestD) {
        val df = arr(j) - cc(j); s += df * df; j += 1
      }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }
}
