package graft

import scala.util.Random

import graft.core.Engine
import graft.index.IndexParams

/** End-to-end recall through a REAL (non-identity) PCA reduction —
  * 256-d corpus, default params for that dim (PCA 128, PQ 16): covers
  * Pca.fit eigendecomposition + the coded write's projection pass +
  * PCA-space clustering/PQ, which the 64-d suites exercise only in
  * identity form.
  */
class PcaPathSpec extends SparkSpec {

  test("256-d train with PCA 128 clears the recall gate") {
    val d = 256
    val n = 8000
    val engine = new Engine(spark, tmpDir("graft-pca"))
    engine.create("pcadb", vectorDimension = d)
    val rnd = new Random(17L)
    val centers = Array.fill(40, d)(rnd.nextGaussian().toFloat)
    val corpus = Array.tabulate(n) { i =>
      val c = centers(i % 40)
      Array.tabulate(d)(j => c(j) + 0.35f * rnd.nextGaussian().toFloat)
    }
    engine.addLocal("pcadb", corpus.toIndexedSeq, IndexedSeq.fill(n)("{}"))

    val doc = engine.train("pcadb", kmeansIters = 5, seed = 42L)
    assert(doc.isTrained)
    assert(doc.pcaDimension == 128) // default for d=256 — real reduction
    // projection matrix row count = pcaDimension
    val pcaRows = spark.read.parquet(s"${doc.indexPath(engine.root)}/pca").count()
    assert(pcaRows == 128 + 1) // + mean row

    def normalize(v: Array[Float]): Array[Float] = {
      val nn = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (nn == 0) v else v.map(x => (x / nn).toFloat)
    }
    val stored = engine.data("pcadb").select("id", "vector").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    var recallSum = 0.0
    val qs = Array.tabulate(8)(qi =>
      normalize(corpus((qi * 991) % n).map(x => x + 0.1f * rnd.nextGaussian().toFloat)))
    qs.foreach { q =>
      val gt = stored.map { case (id, v) =>
        var s = 0.0; var j = 0
        while (j < v.length) { s += v(j).toDouble * q(j).toDouble; j += 1 }
        (s, id)
      }.sortBy { case (s, id) => (-s, id) }.take(50).map(_._2).toSet
      val ids = engine.query("pcadb", q, 500, 50).collect().map(_.getLong(1))
      recallSum += ids.count(gt.contains).toDouble / 50.0
    }
    val recall = recallSum / qs.length
    info(f"PCA-path recall(50@500) = $recall%.4f")
    assert(recall > 0.97, f"recall $recall%.4f below gate through real PCA")
  }
}
