package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.core.Engine
import graft.index._

/** Pins the one-pass driver-local fit ([[IndexFit.local]]) to the
  * per-sample Spark passes it replaces ([[IndexFit.distributed]] with the
  * subsample strategy) on the same pinned frame of an engine db: the PCA,
  * the centroids and the PQ codebooks are byte-equal. And pins the pooled
  * [[ProductQuantizer.fit]] to the sequential per-subspace loop.
  */
class IndexFitSpec extends SparkSpec {

  /** A db of `batches` adds of `rows` clustered `d`-dim vectors (one data
    * file, so one input partition, per add), minus `removed` ids left
    * pending; returns the engine and its pinned `(id, vector)` frame.
    */
  private def db(tag: String, d: Int, batches: Int, rows: Int, seed: Long,
                 removed: Seq[Long] = Nil): (Engine, DataFrame) = {
    val e = new Engine(spark, tmpDir(s"graft-fit-$tag"))
    e.create("db", vectorDimension = d)
    val rnd = new Random(seed)
    val centers = Array.fill(24, d)(rnd.nextGaussian().toFloat)
    (0 until batches).foreach { b =>
      val vecs = Seq.tabulate(rows) { i =>
        val c = centers((b * rows + i) % 24)
        Array.tabulate(d)(j => c(j) + 0.4f * rnd.nextGaussian().toFloat)
      }
      e.addLocal("db", vecs, Seq.fill(rows)(null))
    }
    if (removed.nonEmpty) e.remove("db", removed)
    val doc = e.load("db")
    assert(doc.numPendingDeletes == removed.size, "deletes must stay pending")
    (e, e.data("db").filter(col("id") <= doc.maxId).select("id", "vector"))
  }

  private def assertSameModel(a: IndexFit.Fitted, b: IndexFit.Fitted): Unit = {
    def same(x: Array[Array[Float]], y: Array[Array[Float]]): Boolean =
      x.length == y.length && x.indices.forall(i => java.util.Arrays.equals(x(i), y(i)))
    assert(java.util.Arrays.equals(a.pca.mean, b.pca.mean), "PCA mean differs")
    assert(a.pca.components.length == b.pca.components.length &&
      a.pca.components.indices.forall(i =>
        java.util.Arrays.equals(a.pca.components(i), b.pca.components(i))),
      "PCA components differ")
    assert(same(a.centroids, b.centroids), "centroids differ")
    assert(a.pq.m == b.pq.m && (0 until a.pq.m).forall(j =>
      same(a.pq.codebooks(j), b.pq.codebooks(j))), "PQ codebooks differ")
  }

  private def compare(table: DataFrame, s: IndexFit.Spec): Unit =
    assertSameModel(IndexFit.local(table, s),
      IndexFit.distributed(table, s, twoLevel = false))

  test("all fractions 1.0, three input partitions: local == distributed") {
    val (_, table) = db("full", d = 32, batches = 3, rows = 1000, seed = 5L)
    assert(table.rdd.getNumPartitions >= 3)
    val s = IndexFit.Spec(3000, 32, IndexParams(16, 16, 4), nlist = 16,
      kmeansIters = 4, seed = 11L)
    assert(Seq(s.pcaFraction, s.kmeansFraction, s.pqFraction).forall(_ == 1.0))
    compare(table, s)
  }

  test("fractions < 1 with both limits binding, OPQ on: local == distributed") {
    val (_, table) = db("limits", d = 16, batches = 4, rows = 5000, seed = 6L)
    val s = IndexFit.Spec(20000, 16, IndexParams(8, 8, 4, omitOpq = false),
      nlist = 20, kmeansIters = 3, seed = 12L)
    assert(Seq(s.pcaFraction, s.opqFraction, s.kmeansFraction, s.pqFraction)
      .forall(_ < 1.0))
    def drawn(f: Double) = table.sample(withReplacement = false, f, s.seed).count()
    assert(drawn(s.pcaFraction) > s.pcaRows, "the PCA limit must bind")
    assert(drawn(s.pqFraction) > IndexFit.PqSampleRows, "the PQ limit must bind")
    compare(table, s)
  }

  test("pending deletes, identity PCA: local == distributed") {
    val (_, table) = db("deletes", d = 16, batches = 3, rows = 1000, seed = 7L,
      removed = (0L until 3000L by 37L))
    val s = IndexFit.Spec(table.count(), 16, IndexParams(16, 16, 4), nlist = 12,
      kmeansIters = 4, seed = 13L)
    assert(s.identityPca)
    compare(table, s)
  }

  test("pooled ProductQuantizer.fit == the sequential per-subspace loop") {
    val rnd = new Random(3L)
    for (m <- Seq(8, 16, 2 * FitPool.Threads + 1)) {
      val subDim = 2
      val sample = Array.fill(700)(Array.fill(m * subDim)(rnd.nextGaussian().toFloat))
      val pq = ProductQuantizer.fit(sample, m, iters = 3, seed = 21L)
      val loop = Array.tabulate(m) { j =>
        LocalKMeans.fit(sample.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim)),
          k = 256, iters = 3, seed = 21L + j)
      }
      assert(pq.m == m && pq.subDim == subDim)
      (0 until m).foreach { j =>
        assert(pq.codebooks(j).length == 256 &&
          pq.codebooks(j).indices.forall(c => java.util.Arrays.equals(pq.codebooks(j)(c), loop(j)(c))),
          s"m=$m subspace $j differs")
      }
    }
    assert(2 * FitPool.Threads + 1 > Runtime.getRuntime.availableProcessors)
  }
}
