package graft.index

/** The index model's ADC tables as the scan kernel reads them: codebooks
  * widened to double once, as one flat `[m][256][subDim]` array, and
  * centroids widened per call (a query probes a small share of nlist, so
  * each scan widens only the clusters it probes, once per probe, and no
  * double copy of the centroid matrix is kept: 6–10 µs a query at 109
  * probes of 128 dims into one reused buffer). float→double is exact, so
  * `q − (c + b)` over the widened values keeps every bit of the
  * float-table expression `q − (c.toDouble + b)`.
  */
final class AdcTables(centroids: Array[Array[Float]], pq: PqModel) {
  val m: Int = pq.m
  val subDim: Int = pq.subDim
  val codebooks: Array[Double] = {
    val out = new Array[Double](m * 256 * subDim)
    var j = 0
    while (j < m) {
      val cbj = pq.codebooks(j)
      var c = 0
      while (c < cbj.length) {
        val e = cbj(c)
        val off = (j * 256 + c) * subDim
        var t = 0
        while (t < subDim) { out(off + t) = e(t); t += 1 }
        c += 1
      }
      j += 1
    }
    out
  }

  /** Cluster `cid`'s centroid widened to double, into `out` when given
    * (a scan that holds one cluster at a time refills one buffer), else
    * into a fresh array.
    */
  def centroid(cid: Int, out: Array[Double] = null): Array[Double] = {
    val c = centroids(cid)
    val w = if (out == null) new Array[Double](c.length) else out
    var i = 0
    while (i < c.length) { w(i) = c(i); i += 1 }
    w
  }
}

/** The ADC distance kernel of every serving path: one PCA-space query
  * against PQ-coded rows. Per row the distance is Σ_j block_j where
  * block_j = Σ_t (q − (c + b))² over subquantizer j's dims, added in j
  * order and cut short once it exceeds `bound` (checked once per block:
  * the sum only grows, so a row over the bound never enters the heap and
  * a kept row's sum is the full one).
  *
  * subDim 8 sums each block in the pairwise-tree grouping
  * ((s0+s1)+(s2+s3)) + ((s4+s5)+(s6+s7)), which the DuckDB oracle replays
  * (TrainedFixture.adcDistExpr): a sequential fold is one dependent FP
  * add per dim, and the depth-3 tree halved the scan cost
  * (CHANGES_r18.md: 123 → 68 ns/row at the 35M geometry). It runs on
  * vector lanes ([[SimdAdc.block8]]) where [[AdcKernel.simdAvailable]],
  * else the same tree in scalar code. Other subDims fold the block left
  * to right. All forms give the same bits.
  *
  * @param simd take the vector form for subDim 8 (specs force `false`)
  */
final class AdcKernel(tables: AdcTables, qp: Array[Float],
                      simd: Boolean = AdcKernel.simdAvailable) {
  val m: Int = tables.m
  private val subDim = tables.subDim
  private val cb = tables.codebooks
  private val q: Array[Double] = {
    val out = new Array[Double](qp.length)
    var i = 0
    while (i < qp.length) { out(i) = qp(i); i += 1 }
    out
  }
  private val vector8 = simd && subDim == 8

  /** [[AdcTables.centroid]]: widened per call, so a scan takes it once
    * per probed cluster.
    */
  def centroid(cid: Int, out: Array[Double] = null): Array[Double] =
    tables.centroid(cid, out)

  /** ADC distance of the row whose m code bytes start at `codes(base)`,
    * in cluster `cc` (a [[centroid]]), cut short past `bound`.
    */
  def dist(codes: Array[Byte], base: Int, cc: Array[Double],
           bound: Double): Double = {
    var d = 0.0
    var j = 0
    if (vector8) {
      while (j < m && d <= bound) {
        val off = j << 3
        d += SimdAdc.block8(q, off, cc, off, cb,
          ((j << 8) + (codes(base + j) & 0xFF)) << 3)
        j += 1
      }
    } else if (subDim == 8) {
      while (j < m && d <= bound) {
        val off = j << 3
        val b = ((j << 8) + (codes(base + j) & 0xFF)) << 3
        val e0 = q(off) - (cc(off) + cb(b))
        val e1 = q(off + 1) - (cc(off + 1) + cb(b + 1))
        val e2 = q(off + 2) - (cc(off + 2) + cb(b + 2))
        val e3 = q(off + 3) - (cc(off + 3) + cb(b + 3))
        val e4 = q(off + 4) - (cc(off + 4) + cb(b + 4))
        val e5 = q(off + 5) - (cc(off + 5) + cb(b + 5))
        val e6 = q(off + 6) - (cc(off + 6) + cb(b + 6))
        val e7 = q(off + 7) - (cc(off + 7) + cb(b + 7))
        d += ((e0 * e0 + e1 * e1) + (e2 * e2 + e3 * e3)) +
          ((e4 * e4 + e5 * e5) + (e6 * e6 + e7 * e7))
        j += 1
      }
    } else {
      while (j < m && d <= bound) {
        val off = j * subDim
        val b = ((j << 8) + (codes(base + j) & 0xFF)) * subDim
        var t = 0
        while (t < subDim) {
          val e = q(off + t) - (cc(off + t) + cb(b + t))
          d += e * e
          t += 1
        }
        j += 1
      }
    }
    d
  }
}

object AdcKernel {

  /** Per-JVM feature detection, as [[FlatCentroids.simdAvailable]]: the
    * driver and each executor decide independently.
    */
  val simdAvailable: Boolean =
    try SimdAdc.selfTest()
    catch { case _: Throwable => false }
}

/** Bounded max-heap of ADC candidates in primitive arrays: keeps the
  * `cap` smallest `(dist, id)` pairs (dist by `java.lang.Double.compare`,
  * then id), each with two int tags (a block or cluster index and a row).
  * [[bound]] is the worst kept dist once full and `Double.MaxValue` while
  * filling — the kernel's early-exit bound.
  */
final class AdcHeap(val cap: Int) {
  val dists = new Array[Double](math.max(cap, 0))
  val ids = new Array[Long](dists.length)
  val tags = new Array[Int](dists.length)
  val rows = new Array[Int](dists.length)
  private var n = 0

  def bound: Double =
    if (n < cap) Double.MaxValue
    else if (n == 0) Double.NegativeInfinity // cap 0 keeps nothing
    else dists(0)

  /** Would `(d, id)` be kept? IEEE comparisons, as the scan always
    * made them: once full, a NaN dist is never admitted.
    */
  def admits(d: Double, id: Long): Boolean =
    n < cap || (n > 0 && (d < dists(0) || (d == dists(0) && id < ids(0))))

  /** Keep `(d, id)`; the caller checked [[admits]]. */
  def offer(d: Double, id: Long, tag: Int, row: Int): Unit =
    if (n < cap) {
      var i = n
      n += 1
      while (i > 0 && after(d, id, (i - 1) >>> 1)) {
        move((i - 1) >>> 1, i)
        i = (i - 1) >>> 1
      }
      set(i, d, id, tag, row)
    } else siftDown(n, d, id, tag, row)

  /** [[offer]] `(d, id)` if kept, admitting in the heap's own total
    * order (the driver merges use it: a sort of the parts' rows would
    * order them the same way).
    */
  def keep(d: Double, id: Long, tag: Int, row: Int): Unit =
    if (n < cap || (n > 0 && afterHeld(0, d, id))) offer(d, id, tag, row)

  /** Sort the kept entries ascending by (dist, id) in place, so slot i of
    * each array holds the i-th best, and return their count; the heap is
    * spent afterwards.
    */
  def sortAscending(): Int = {
    var end = n
    while (end > 1) {
      end -= 1
      val d = dists(end); val id = ids(end)
      val tag = tags(end); val row = rows(end)
      move(0, end)
      siftDown(end, d, id, tag, row)
    }
    val kept = n
    n = 0
    kept
  }

  // is (d, id) after slot j in (dist, id) order?
  private def after(d: Double, id: Long, j: Int): Boolean = {
    val c = java.lang.Double.compare(d, dists(j))
    c > 0 || (c == 0 && id > ids(j))
  }

  // place (d, id, tag, row) at the root of the heap over slots [0, len)
  private def siftDown(len: Int, d: Double, id: Long, tag: Int,
                       row: Int): Unit = {
    var i = 0
    var c = 1
    while (c < len) {
      if (c + 1 < len && after(dists(c + 1), ids(c + 1), c)) c += 1
      if (!afterHeld(c, d, id)) c = len
      else { move(c, i); i = c; c = 2 * i + 1 }
    }
    set(i, d, id, tag, row)
  }

  // is slot c after the held (d, id)?
  private def afterHeld(c: Int, d: Double, id: Long): Boolean = {
    val x = java.lang.Double.compare(dists(c), d)
    x > 0 || (x == 0 && ids(c) > id)
  }

  private def move(from: Int, to: Int): Unit = {
    dists(to) = dists(from); ids(to) = ids(from)
    tags(to) = tags(from); rows(to) = rows(from)
  }

  private def set(i: Int, d: Double, id: Long, tag: Int, row: Int): Unit = {
    dists(i) = d; ids(i) = id; tags(i) = tag; rows(i) = row
  }
}
