package perfbench

import java.security.MessageDigest
import java.util.Random

/** Seeded clustered-Gaussian vectors with short JSON metadata.
  *
  * The cluster centres are the same for every seed, so every seed has the
  * same geometry and the same work per query; the seed picks the vectors.
  * Every stream (corpus, held-out queries, vectors added during a run) has
  * its own `Random` derived from the seed, so one seed always yields the
  * same inputs and the streams never share draws.
  */
final class Gen(seed: Long, val d: Int, clusters: Int, noise: Double) {
  private val centres: Array[Array[Double]] = {
    val r = new Random(0x5eedL)
    Array.fill(clusters)(Array.fill(d)(r.nextGaussian()))
  }

  /** `n` vectors and their metadata from stream `stream`; `firstTag`
    * numbers the metadata so every generated row is distinguishable.
    */
  def draw(stream: Int, n: Int, firstTag: Long): (Array[Array[Float]], Array[String]) = {
    val r = new Random(seed * 1000003L + 17L * stream + 2)
    val vs = new Array[Array[Float]](n)
    val ms = new Array[String](n)
    var i = 0
    while (i < n) {
      val c = r.nextInt(clusters)
      val ctr = centres(c)
      val v = new Array[Float](d)
      var j = 0
      while (j < d) { v(j) = (ctr(j) + noise * r.nextGaussian()).toFloat; j += 1 }
      vs(i) = v
      ms(i) = s"""{"c":$c,"tag":${firstTag + i}}"""
      i += 1
    }
    (vs, ms)
  }
}

object Vec {
  /** The engine's normalisation: a double Σx² fold, elementwise divide,
    * stored as float. Reproduced here so exact answers are computed by the
    * benchmark, not taken from the engine.
    */
  def normalize(v: Array[Float]): Array[Float] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0) v.clone() else v.map(x => (x / n).toFloat)
  }

  /** Σ aᵢ·bᵢ in double, left to right. */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def sha256(vs: Iterator[Array[Float]], ms: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(4)
    vs.foreach(_.foreach { x => buf.clear(); buf.putFloat(x); md.update(buf.array()) })
    ms.foreach(m => md.update(m.getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString.take(16)
  }
}

/** The benchmark's own record of what the db holds: id → normalised vector
  * for every live row. Ids are predicted (sequential from 0, as the engine
  * assigns them), so the ledger never reads anything back from the engine.
  */
final class Ledger {
  private val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
  private val live = new java.util.BitSet()

  def nextId: Long = vecs.length.toLong

  /** Records an add of `vs` (raw) and returns the ids they should get. */
  def add(vs: Array[Array[Float]]): (Long, Long) = {
    val first = nextId
    vs.foreach { v => live.set(vecs.length); vecs += Vec.normalize(v) }
    (first, nextId - 1)
  }

  def remove(ids: Seq[Long]): Unit = ids.foreach(i => live.clear(i.toInt))

  def isLive(id: Long): Boolean = id >= 0 && id < vecs.length && live.get(id.toInt)
  def liveCount: Long = live.cardinality().toLong
  def vector(id: Long): Array[Float] = vecs(id.toInt)

  /** Live ids in ascending order. */
  def liveIds: Array[Long] = {
    val out = new Array[Long](live.cardinality())
    var i = live.nextSetBit(0)
    var k = 0
    while (i >= 0) { out(k) = i.toLong; k += 1; i = live.nextSetBit(i + 1) }
    out
  }

  /** Exact top-k live ids by (dot desc, id asc) against the normalised query. */
  def exactTopK(q: Array[Float], k: Int): Array[Long] = {
    val qn = Vec.normalize(q)
    val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
      (a: (Double, Long), b: (Double, Long)) =>
        if (a._1 != b._1) java.lang.Double.compare(a._1, b._1)
        else java.lang.Long.compare(b._2, a._2))
    var i = live.nextSetBit(0)
    while (i >= 0) {
      val s = Vec.dot(vecs(i), qn)
      heap.add((s, i.toLong))
      if (heap.size > k) heap.poll()
      i = live.nextSetBit(i + 1)
    }
    val out = new Array[(Double, Long)](heap.size)
    var j = out.length - 1
    while (!heap.isEmpty) { out(j) = heap.poll(); j -= 1 }
    out.map(_._2)
  }
}
