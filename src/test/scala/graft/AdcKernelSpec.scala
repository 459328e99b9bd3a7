package graft

import scala.util.Random

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Engine.IndexModel
import graft.index.{AdcHeap, AdcKernel, Pca, PqModel}
import graft.operators.{BatchANN, PreparedANN}
import graft.operators.PreparedANN.{Cand, ClusterBlock}

/** The shared ADC kernel against the pre-kernel serving arithmetic
  * ([[AdcReference]]), bit for bit, on the vector path and the forced
  * scalar path: PreparedANN's one-heap serve over one or several block
  * maps, and BatchANN's single-query coarse stage.
  */
class AdcKernelSpec extends AnyFunSuite {

  private val D = 24 // full-dim vectors for the rerank
  private val NList = 6

  private def model(m: Int, subDim: Int, rnd: Random): IndexModel = {
    val p = m * subDim
    IndexModel(Pca.identity(p),
      Array.fill(NList, p)(rnd.nextGaussian().toFloat),
      PqModel(m, subDim, Array.fill(m, 256, subDim)(
        (0.4 * rnd.nextGaussian()).toFloat)))
  }

  private def block(ids: Seq[Long], m: Int, rnd: Random,
                    code: Int => Int = _ => -1): ClusterBlock = {
    val codes = Array.tabulate(ids.length * m) { i =>
      val c = code(i / m); (if (c >= 0) c else rnd.nextInt(256)).toByte
    }
    new ClusterBlock(ids.toArray, codes,
      Array.fill(ids.length * D)(rnd.nextFloat() - 0.5f),
      ids.map(i => if (i % 5 == 0) null else s"m$i").toArray)
  }

  /** Cluster c holds `perCluster(c)` rows with ids spread over clusters. */
  private def blocks(m: Int, perCluster: Seq[Int], rnd: Random,
                     idBase: Long = 0L): Map[Int, ClusterBlock] = {
    var next = idBase
    perCluster.zipWithIndex.map { case (n, c) =>
      val ids = (0 until n).map(_ => { next += 1 + rnd.nextInt(3); next })
      c -> block(rnd.shuffle(ids), m, rnd)
    }.toMap
  }

  private def bits(cs: Array[Cand]): Seq[(Long, Long, Long, String)] =
    cs.toSeq.map(c => (java.lang.Double.doubleToRawLongBits(c.adcDist), c.id,
      java.lang.Double.doubleToRawLongBits(c.sim), c.meta))

  private def query(p: Int, rnd: Random): (Array[Float], Array[Float]) =
    (Array.fill(p)(rnd.nextGaussian().toFloat),
      Array.fill(D)(rnd.nextGaussian().toFloat))

  /** New serve (both kernel forms) == the old per-part heaps + sort. */
  private def assertServes(mdl: IndexModel, parts: Array[Map[Int, ClusterBlock]],
                           probes: Array[Int], qp: Array[Float], qn: Array[Float],
                           prelimK: Int, deleted: Array[Long] = Array.emptyLongArray,
                           pred: (Long, String) => Boolean = null): Array[Cand] = {
    val want = AdcReference.serveParts(parts.toSeq, mdl, probes, qp, qn,
      prelimK, deleted, pred)
    for (simd <- Seq(true, false)) {
      val got = PreparedANN.serveWith(new AdcKernel(mdl.adcTables, qp, simd),
        parts, probes, qn, prelimK, deleted, pred).toCands
      assert(bits(got) == bits(want), s"simd=$simd")
    }
    if (parts.length == 1) {
      val got = PreparedANN.servePartition(parts(0), mdl, probes, qp, qn,
        prelimK, deleted, pred)
      assert(bits(got) == bits(want))
    }
    want
  }

  /** BatchANN's single-query coarse stage (both kernel forms) == the
    * reference's ADC (dist, id) over the same rows.
    */
  private def assertCoarse(mdl: IndexModel, blks: Map[Int, ClusterBlock],
                           probes: Array[Int], qp: Array[Float],
                           prelimK: Int): Unit = {
    val want = AdcReference.serveParts(Seq(blks), mdl, probes, qp,
      new Array[Float](D), prelimK, Array.emptyLongArray)
      .map(c => (java.lang.Double.doubleToRawLongBits(c.adcDist), c.id)).toSeq
    def rows = blks.iterator.flatMap { case (cid, b) =>
      Iterator.tabulate(b.size) { r =>
        new GenericInternalRow(Array[Any](b.ids(r), cid, new GenericArrayData(
          Array.tabulate(mdl.pq.m)(j => b.codes(r * mdl.pq.m + j) & 0xFF))))
      }
    }
    for (simd <- Seq(true, false)) {
      val (ds, ids, cs) = BatchANN.coarsePartitionWith(rows,
        new AdcKernel(mdl.adcTables, qp, simd), probes.toSet, prelimK)
      assert(ds.toSeq.map(java.lang.Double.doubleToRawLongBits).zip(ids) == want,
        s"simd=$simd")
      ids.zip(cs).foreach { case (id, c) => assert(blks(c).ids.contains(id)) }
    }
  }

  test("the vector path is active on this JVM (build ships --add-modules)") {
    assert(AdcKernel.simdAvailable)
  }

  for ((m, subDim) <- Seq((16, 8), (3, 8), (8, 4), (5, 16), (7, 3))) {
    test(s"subDim $subDim, m $m: serve and coarse equal the reference") {
      val rnd = new Random(1000L * m + subDim)
      val mdl = model(m, subDim, rnd)
      val blks = blocks(m, Seq(300, 0, 120, 45, 400, 9), rnd)
      val probes = Array(4, 0, 2, 5, 1)
      for (_ <- 0 until 6) {
        val (qp, qn) = query(m * subDim, rnd)
        for (k <- Seq(1, 17, 200)) {
          val out = assertServes(mdl, Array(blks), probes, qp, qn, k)
          assert(out.length == math.min(k, 300 + 120 + 400 + 9))
          assertCoarse(mdl, blks, probes, qp, k)
        }
      }
    }
  }

  test("tied dists keep the smaller ids") {
    val rnd = new Random(7L)
    val mdl = model(4, 8, rnd)
    // every row of cluster 1 shares one code: 60 equal dists, shuffled ids
    val ids = rnd.shuffle((1L to 60L).map(_ * 3))
    val tied = Map(1 -> block(ids, 4, rnd, _ => 9), 2 -> block(Seq(1000L), 4, rnd))
    val (qp, qn) = query(32, rnd)
    for (k <- Seq(5, 59, 61)) {
      val out = assertServes(mdl, Array(tied), Array(1, 2), qp, qn, k)
      val tiedOut = out.filter(_.id < 1000L).map(_.id)
      assert(tiedOut.toSeq == tiedOut.sorted.toSeq)
      assert(tiedOut.toSeq == ids.sorted.take(tiedOut.length))
      assertCoarse(mdl, tied, Array(1, 2), qp, k)
    }
  }

  test("pending deletes never enter the heap") {
    val rnd = new Random(8L)
    val mdl = model(16, 8, rnd)
    val blks = blocks(16, Seq(200, 200, 200), rnd)
    val all = blks.valuesIterator.flatMap(_.ids).toArray.sorted
    val deleted = all.filter(_ => rnd.nextInt(4) == 0)
    val (qp, qn) = query(128, rnd)
    val out = assertServes(mdl, Array(blks), Array(0, 1, 2), qp, qn, 50, deleted)
    assert(out.length == 50)
    assert(!out.exists(c => java.util.Arrays.binarySearch(deleted, c.id) >= 0))
  }

  test("a pushed predicate gates heap entry") {
    val rnd = new Random(9L)
    val mdl = model(16, 8, rnd)
    val blks = blocks(16, Seq(300, 300), rnd)
    val (qp, qn) = query(128, rnd)
    val pred = (id: Long, meta: String) => meta != null && id % 3 == 0
    val out = assertServes(mdl, Array(blks), Array(0, 1), qp, qn, 40, pred = pred)
    assert(out.length == 40 && out.forall(c => pred(c.id, c.meta)))
    // a predicate no row passes leaves the heap empty
    assert(assertServes(mdl, Array(blks), Array(0, 1), qp, qn, 40,
      pred = (_: Long, _: String) => false).isEmpty)
  }

  test("prelimK past the probed rows, empty blocks and unprobed clusters") {
    val rnd = new Random(10L)
    val mdl = model(16, 8, rnd)
    val blks = blocks(16, Seq(0, 7, 0, 12), rnd) +
      (4 -> block(Seq.empty, 16, rnd))
    val (qp, qn) = query(128, rnd)
    assert(assertServes(mdl, Array(blks), Array(0, 1, 2, 3, 4), qp, qn, 500)
      .length == 19)
    assert(assertServes(mdl, Array(blks), Array(0, 2, 4), qp, qn, 500).isEmpty)
    assert(assertServes(mdl, Array(blks), Array(5), qp, qn, 10).isEmpty)
    assertCoarse(mdl, blks, Array(0, 1, 2, 3, 4), qp, 500)
  }

  test("several parts and a side buffer against one heap") {
    val rnd = new Random(11L)
    val mdl = model(16, 8, rnd)
    val whole = blocks(16, Seq(250, 90, 310, 40, 0, 120), rnd)
    // each cluster's rows dealt over three parts, as a pinned block set is
    val parts = Array.tabulate(3) { p =>
      whole.map { case (cid, b) =>
        val rows = (0 until b.size).filter(_ % 3 == p)
        cid -> new ClusterBlock(rows.map(b.ids).toArray,
          rows.flatMap(r => b.codes.slice(r * 16, r * 16 + 16)).toArray,
          rows.flatMap(r => b.vecs.slice(r * D, r * D + D)).toArray,
          rows.map(b.meta).toArray)
      }
    }
    val side = blocks(16, Seq(5, 0, 30), rnd, idBase = 1L << 40)
    for (_ <- 0 until 5) {
      val (qp, qn) = query(128, rnd)
      val probes = Array(2, 0, 5, 1)
      for (k <- Seq(1, 64, 300)) {
        val split = assertServes(mdl, parts :+ side, probes, qp, qn, k)
        val consumed = parts.clone()
        val joined = assertServes(mdl,
          Array(PreparedANN.concatBlocks(consumed), side), probes, qp, qn, k)
        assert(consumed.forall(_ == null))
        assert(bits(split) == bits(joined))
      }
    }
  }

  test("the heap keeps the cap smallest (dist, id) and drains them sorted") {
    val rnd = new Random(12L)
    for (cap <- Seq(0, 1, 7, 64)) {
      val xs = Seq.fill(500)((rnd.nextInt(40).toDouble, rnd.nextInt(1000).toLong))
        .distinct
      val h = new AdcHeap(cap)
      xs.zipWithIndex.foreach { case ((d, id), i) => h.keep(d, id, i, -i) }
      val n = h.sortAscending()
      val got = (0 until n).map(i => (h.dists(i), h.ids(i)))
      assert(got == xs.sorted.take(cap))
      (0 until n).foreach(i => assert(xs(h.tags(i)) == got(i) && h.rows(i) == -h.tags(i)))
    }
  }
}
