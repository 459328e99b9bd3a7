package graft.index

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Product quantization: split a p-dim vector into `m` subspaces of
  * `subDim = p/m`, k-means each subspace to 256 centroids, store each
  * vector as `m` one-byte codes; query-time asymmetric distance (ADC) is
  * computed executor-side by [[graft.operators.BatchANN]] from the
  * broadcast codebooks (reference: the Faiss PQ{m} stage,
  * training_utils.py:50-51; codebooks fit on a 64·256-row sample,
  * two_level_clustering.py:171-181).
  *
  * Codes are stored as `array<int>` (one 0..255 entry per subspace) so the
  * encode / ADC expressions stay inside whole-stage codegen; at rest
  * Parquet dictionary+RLE encodes them to ~1 byte each.
  */
final case class PqModel(m: Int, subDim: Int,
                         codebooks: Array[Array[Array[Float]]]) { // [m][256][subDim]

  /** Driver-side encode (OPQ fit loop / tests): argmin per subspace. */
  def encodeLocal(v: Array[Float]): Array[Int] = {
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val cb = codebooks(j)
      val off = j * subDim
      var best = 0
      var bestD = Double.MaxValue
      var k = 0
      while (k < cb.length) {
        val e = cb(k)
        var s = 0.0
        var t = 0
        while (t < subDim) { val d = v(off + t) - e(t); s += d * d; t += 1 }
        if (s < bestD) { bestD = s; best = k }
        k += 1
      }
      codes(j) = best
      j += 1
    }
    codes
  }

  /** Driver-side decode (tests / debugging). */
  def decode(codes: Array[Int]): Array[Float] = {
    val out = new Array[Float](m * subDim)
    var j = 0
    while (j < m) {
      System.arraycopy(codebooks(j)(codes(j)), 0, out, j * subDim, subDim)
      j += 1
    }
    out
  }
}

object ProductQuantizer {

  /** Fit codebooks on a sample of PCA-space vectors (driver-local — the
    * sample is 64·256 rows, same scale the reference trains PQ on). The m
    * subspace k-means are independent, each with its own seed, so they run
    * on the [[FitPool]] and return the sequential loop's codebooks.
    */
  def fit(sample: Array[Array[Float]], m: Int, iters: Int = 25,
          seed: Long = 42L): PqModel = {
    require(sample.nonEmpty, "pq fit on empty sample")
    val p = sample(0).length
    require(p % m == 0, s"pq: dim $p not divisible by m=$m")
    val subDim = p / m
    val codebooks = FitPool.tabulate(m) { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      LocalKMeans.fit(sub, k = 256, iters = iters, seed = seed + j)
    }
    PqModel(m, subDim, codebooks)
  }
}
