package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{Pca, PcaModel}

/** `PcaModel.applyLocal` computes four output rows per pass; each row's
  * sum must stay the left-to-right chain of the one-row loop, so the
  * projected query is byte-equal on every model shape a db can hold.
  */
class PcaApplySpec extends AnyFunSuite {

  // the one-row-per-pass loop the four-chain form replaced
  private def reference(pca: PcaModel, x: Array[Float]): Array[Float] = {
    val c = new Array[Double](pca.mean.length)
    var i = 0
    while (i < pca.mean.length) { c(i) = x(i) - pca.mean(i); i += 1 }
    pca.components.map { row =>
      var s = 0.0; var j = 0
      while (j < row.length) { s += row(j) * c(j); j += 1 }
      s.toFloat
    }
  }

  private def assertSame(pca: PcaModel, rnd: Random): Unit =
    for (_ <- 0 until 50) {
      val x = Array.fill(pca.mean.length)((rnd.nextGaussian() * 3).toFloat)
      val got = pca.applyLocal(x).map(java.lang.Float.floatToRawIntBits)
      val want = reference(pca, x).map(java.lang.Float.floatToRawIntBits)
      assert(got.toSeq == want.toSeq)
    }

  private def sample(n: Int, d: Int, rnd: Random): Array[Array[Float]] =
    Array.fill(n, d)((rnd.nextGaussian() * (1 + rnd.nextInt(4))).toFloat)

  test("identity model") {
    val rnd = new Random(1L)
    Seq(1, 4, 7, 64).foreach(d => assertSame(Pca.identity(d), rnd))
  }

  test("reduced models, output counts on and off a multiple of four") {
    val rnd = new Random(2L)
    Seq((40, 12), (40, 13), (33, 3), (96, 30)).foreach { case (d, out) =>
      assertSame(Pca.fitLocal(sample(300, d, rnd), out), rnd)
    }
  }

  test("OPQ-composed models") {
    val rnd = new Random(3L)
    Seq((48, 16), (30, 10)).foreach { case (d, out) =>
      val base = Pca.fitLocal(sample(300, d, rnd), out)
      val r = Array.fill(out, out)(rnd.nextGaussian())
      assertSame(Pca.compose(base, r), rnd)
    }
  }
}
