package graft

import scala.util.Random

import breeze.linalg.{eigSym, DenseMatrix, DenseVector}
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{Pca, PcaModel}

/** `Pca.fitLocal` calls netlib's `dgemm`/`dsyev` directly. It must give
  * the model the Breeze form gives, byte for byte: `(m.t * m) /:/ (n-1)`
  * and `eigSym`, components taken by descending eigenvalue. The Breeze
  * form lives here only, as the reference.
  */
class PcaFitSpec extends AnyFunSuite {

  private def breezeFit(rows: Array[Array[Float]], outDim: Int): PcaModel = {
    val n = rows.length
    val d = rows(0).length
    val mean = new Array[Double](d)
    rows.foreach { r => var j = 0; while (j < d) { mean(j) += r(j); j += 1 } }
    var j = 0
    while (j < d) { mean(j) /= n; j += 1 }
    val m = DenseMatrix.zeros[Double](n, d)
    var i = 0
    while (i < n) {
      j = 0
      while (j < d) { m(i, j) = rows(i)(j) - mean(j); j += 1 }
      i += 1
    }
    val cov = (m.t * m) /:/ math.max(n - 1, 1).toDouble
    val es = eigSym(cov)
    val order = es.eigenvalues.toArray.zipWithIndex.sortBy(-_._1).map(_._2).take(outDim)
    PcaModel(mean, order.map { c =>
      val v: DenseVector[Double] = es.eigenvectors(::, c)
      v.toArray
    })
  }

  private def assertSameBits(a: PcaModel, b: PcaModel, what: String): Unit = {
    assert(java.util.Arrays.equals(a.mean, b.mean), s"$what: mean differs")
    assert(a.components.length == b.components.length, s"$what: component count")
    a.components.indices.foreach { c =>
      assert(java.util.Arrays.equals(a.components(c), b.components(c)),
        s"$what: component $c differs")
    }
  }

  private def gaussian(n: Int, d: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new Random(seed)
    val scale = Array.tabulate(d)(j => 1.0f + j % 7)
    Array.fill(n)(Array.tabulate(d)(j => scale(j) * rnd.nextGaussian().toFloat))
  }

  test("n much larger than d: bit-identical to the Breeze fit") {
    val rows = gaussian(3000, 24, 3L)
    assertSameBits(Pca.fitLocal(rows, 12), breezeFit(rows, 12), "3000x24->12")
  }

  test("n smaller than d: bit-identical to the Breeze fit") {
    val rows = gaussian(10, 40, 5L)
    assertSameBits(Pca.fitLocal(rows, 20), breezeFit(rows, 20), "10x40->20")
  }

  test("a rank-deficient sample: bit-identical to the Breeze fit") {
    // the last 10 columns repeat the first 10, and column 5 is constant
    val base = gaussian(400, 20, 7L)
    val rows = base.map { r =>
      val out = new Array[Float](30)
      System.arraycopy(r, 0, out, 0, 20)
      System.arraycopy(r, 0, out, 20, 10)
      out(5) = 0.25f
      out
    }
    assertSameBits(Pca.fitLocal(rows, 30), breezeFit(rows, 30), "rank-deficient 400x30")
  }

  test("the train's geometry, 1200x256 -> 128: bit-identical to the Breeze fit") {
    val rnd = new Random(11L)
    val centres = Array.fill(16, 256)(rnd.nextGaussian().toFloat)
    val rows = Array.tabulate(1200) { i =>
      val c = centres(i % 16)
      Array.tabulate(256)(j => c(j) + 0.3f * rnd.nextGaussian().toFloat)
    }
    assertSameBits(Pca.fitLocal(rows, 128), breezeFit(rows, 128), "1200x256->128")
  }
}
