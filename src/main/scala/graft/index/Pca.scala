package graft.index

import dev.ludovic.netlib.blas.BLAS
import dev.ludovic.netlib.lapack.LAPACK
import org.netlib.util.intW

import org.apache.spark.sql.DataFrame

/** PCA dimensionality reduction (reference T10: the Faiss PCAMatrix stage
  * of the index chain, two_level_clustering.py:119-140 — fit on a random
  * sample of 100·d vectors, then chain-applied to every vector).
  *
  * Fit is driver-local over a Spark-sampled matrix (O(sample·d + d²)
  * memory, d ≤ a few thousand — the same driver-sized footprint the
  * reference uses), calling netlib's BLAS/LAPACK directly
  * ([[Pca.fitLocal]]). Apply ships the matrix as a broadcast, never as a
  * plan literal: the full pass is the coded write's kernel
  * (`CodedStore.assignEncode`, over [[Coder.pcaApply]]), the sample
  * projection is [[Coder.pcaApplyCol]], and a query vector uses
  * [[PcaModel.applyLocal]].
  */
final case class PcaModel(mean: Array[Double], components: Array[Array[Double]]) {

  def outputDim: Int = components.length

  /** True for the no-reduction model (pcaDim == d): apply is a plain cast,
    * not a matmul. Detected structurally so it survives IndexStore round-trips.
    */
  lazy val isIdentity: Boolean =
    components.length == mean.length &&
      mean.forall(_ == 0.0) &&
      components.zipWithIndex.forall { case (row, i) =>
        row.zipWithIndex.forall { case (x, j) => x == (if (i == j) 1.0 else 0.0) }
      }

  /** Driver-side apply for query vectors (O(d·p), no Spark job); the
    * full-pass column form is Coder.pcaApplyCol (broadcast, not literal).
    * Four output rows share each pass over the centred input, each summed
    * left to right in its own chain.
    */
  def applyLocal(x: Array[Float]): Array[Float] = {
    val c = new Array[Double](mean.length)
    var i = 0
    while (i < mean.length) { c(i) = x(i) - mean(i); i += 1 }
    val out = new Array[Float](components.length)
    var r = 0
    while (r + 4 <= out.length) {
      val w0 = components(r); val w1 = components(r + 1)
      val w2 = components(r + 2); val w3 = components(r + 3)
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var j = 0
      while (j < w0.length) {
        val cj = c(j)
        s0 += w0(j) * cj; s1 += w1(j) * cj; s2 += w2(j) * cj; s3 += w3(j) * cj
        j += 1
      }
      out(r) = s0.toFloat; out(r + 1) = s1.toFloat
      out(r + 2) = s2.toFloat; out(r + 3) = s3.toFloat
      r += 4
    }
    while (r < out.length) {
      val w = components(r)
      var s = 0.0; var j = 0
      while (j < w.length) { s += w(j) * c(j); j += 1 }
      out(r) = s.toFloat
      r += 1
    }
    out
  }
}

object Pca {

  /** Compose a learned OPQ rotation R (o×p) onto a PCA model W (p×d):
    * z = R·W·(x−μ) — one effective projection matrix, so the whole
    * PCA→OPQ chain stays a single mat-vec everywhere downstream (and
    * IndexStore round-trips it with no new artifact).
    */
  def compose(base: PcaModel, r: Array[Array[Double]]): PcaModel = {
    val w = base.components // p×d
    val o = r.length
    val dIn = if (w.isEmpty) 0 else w(0).length
    val composed = Array.ofDim[Double](o, dIn)
    var a = 0
    while (a < o) {
      var b = 0
      while (b < dIn) {
        var s = 0.0
        var k = 0
        while (k < w.length) { s += r(a)(k) * w(k)(b); k += 1 }
        composed(a)(b) = s
        b += 1
      }
      a += 1
    }
    PcaModel(base.mean, composed)
  }

  /** Identity model (pcaDim == d and no reduction wanted). */
  def identity(d: Int): PcaModel =
    PcaModel(new Array[Double](d), Array.tabulate(d)(i =>
      Array.tabulate(d)(j => if (i == j) 1.0 else 0.0)))

  /** Fit on ~`sampleSize` rows sampled from `df` (reference uses 100·d).
    * One cheap `sample()` pass — never a global sort-by-rand. `totalRows`
    * sizes the fraction without an extra count when the caller knows it.
    */
  def fit(df: DataFrame, vecCol: String, d: Int, outDim: Int,
          sampleSize: Int, seed: Long = 42L, totalRows: Long = -1L): PcaModel = {
    val n = if (totalRows > 0) totalRows else df.count()
    val frac = math.min(1.0, sampleSize * 1.1 / math.max(1L, n))
    val rows = df.select(vecCol)
      .sample(withReplacement = false, frac, seed)
      .limit(sampleSize)
      .collect().map(_.getSeq[Float](0).toArray)
    fitLocal(rows, outDim)
  }

  /** Eigendecomposition of the sample covariance; components sorted by
    * descending eigenvalue. Deterministic.
    *
    * The covariance is `dgemm("T","N")` over the column-major centred
    * sample, divided elementwise by `n − 1`, and `dsyev("V","L")`
    * decomposes it with workspace `max(1, 3d − 1)`. These are the
    * routines, arguments and workspace Breeze's `m.t * m` and `eigSym`
    * pass, so the model is bit-identical to the Breeze form (the LAPACK
    * optimal workspace would change the bits); calling netlib directly
    * skips Breeze's first-use cost, which was most of a cold fit.
    */
  def fitLocal(rows: Array[Array[Float]], outDim: Int): PcaModel = {
    val n = rows.length
    val d = rows(0).length
    require(outDim <= d, s"pca outDim $outDim > input dim $d")
    val mean = new Array[Double](d)
    rows.foreach { r => var j = 0; while (j < d) { mean(j) += r(j); j += 1 } }
    var j = 0
    while (j < d) { mean(j) /= n; j += 1 }

    // centred sample, column-major n×d
    val m = new Array[Double](n * d)
    var i = 0
    while (i < n) {
      val r = rows(i)
      j = 0
      while (j < d) { m(i + j * n) = r(j) - mean(j); j += 1 }
      i += 1
    }
    val cov = new Array[Double](d * d)
    BLAS.getInstance().dgemm("T", "N", d, d, n, 1.0, m, 0, n, m, 0, n, 0.0, cov, 0, d)
    val div = math.max(n - 1, 1).toDouble
    i = 0
    while (i < cov.length) { cov(i) = cov(i) / div; i += 1 }
    // dsyev reads only the lower triangle and overwrites the matrix with
    // the eigenvectors (column c is the c-th ascending eigenvalue's)
    val eigenvalues = new Array[Double](d)
    val lwork = math.max(1, 3 * d - 1)
    val info = new intW(0)
    LAPACK.getInstance().dsyev("V", "L", d, cov, math.max(1, d), eigenvalues,
      new Array[Double](lwork), lwork, info)
    if (info.`val` != 0)
      throw new ArithmeticException(s"pca: dsyev returned info ${info.`val`}")
    // take the top outDim, descending
    val order = eigenvalues.zipWithIndex.sortBy(-_._1).map(_._2).take(outDim)
    PcaModel(mean, order.map(c => java.util.Arrays.copyOfRange(cov, c * d, (c + 1) * d)))
  }
}
