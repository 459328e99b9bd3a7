package graft.core

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.index.{Pca, PcaModel, ProductQuantizer}

/** The coded write's encode kernel (`CodedStore.assignEncode`) against
  * per-row reference arithmetic: PCA apply `W·(x−μ)` (or the plain
  * float→double cast of an identity model), the brute nearest centroid
  * (double left-to-right sums, strict `<`, lowest id on ties) and the
  * residual PQ encode. Vector and metadata must pass through untouched.
  *
  * The input has a partition of more than 1,024 rows: the kernel buffers
  * rows in 1,024-row chunks, and a scan reuses one row object, so a chunk
  * that kept references instead of copies would write one row many times.
  * It also has an empty partition and null metadata.
  */
class AssignEncodeKernelSpec extends SparkSpec {

  private val D = 16
  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("metadata", StringType)))

  private val rnd = new Random(23L)
  private val input: Array[(Long, Array[Float], String)] = Array.tabulate(2600) { i =>
    val v = Array.fill(D)(rnd.nextGaussian().toFloat)
    (i.toLong * 3 + 1, v, if (i % 7 == 0) null else s"""{"i":$i}""")
  }

  /** Partitions: 2,300 rows, none, 300 rows. */
  private def frame() = {
    val sc = spark.sparkContext
    val rows = input.map { case (id, v, m) => Row(id, v.toSeq, m) }
    val rdd = sc.parallelize(rows.take(2300).toSeq, 1)
      .union(sc.parallelize(Seq.empty[Row], 1))
      .union(sc.parallelize(rows.drop(2300).toSeq, 1))
    val df = spark.createDataFrame(rdd, schema)
    assert(df.rdd.getNumPartitions == 3)
    df
  }

  private def model(pca: PcaModel): Engine.IndexModel = {
    val r = new Random(5L)
    val p = pca.outputDim
    val centroids = Array.fill(24, p)(r.nextGaussian().toFloat)
    val sample = Array.fill(600)(Array.fill(p)(r.nextGaussian().toFloat))
    Engine.IndexModel(pca, centroids, ProductQuantizer.fit(sample, m = 4, iters = 3))
  }

  private def referencePvec(pca: PcaModel, v: Array[Float]): Array[Double] =
    if (pca.isIdentity) v.map(_.toDouble)
    else {
      val c = Array.tabulate(v.length)(i => v(i).toDouble - pca.mean(i))
      pca.components.map { row =>
        var s = 0.0
        var j = 0
        while (j < row.length) { s += row(j) * c(j); j += 1 }
        s
      }
    }

  private def referenceNearest(cs: Array[Array[Float]], x: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    cs.indices.foreach { c =>
      var s = 0.0
      var j = 0
      while (j < x.length) { val t = x(j) - cs(c)(j); s += t * t; j += 1 }
      if (s < bestD) { bestD = s; best = c }
    }
    best
  }

  private def referenceCode(m: Engine.IndexModel, x: Array[Double], cid: Int): Array[Int] = {
    val pq = m.pq
    Array.tabulate(pq.m) { j =>
      val cb = pq.codebooks(j)
      var best = 0
      var bestD = Double.MaxValue
      cb.indices.foreach { k =>
        var s = 0.0
        var t = 0
        while (t < pq.subDim) {
          val off = j * pq.subDim + t
          val r = (x(off) - m.centroids(cid)(off)) - cb(k)(t)
          s += r * r
          t += 1
        }
        if (s < bestD) { bestD = s; best = k }
      }
      best
    }
  }

  private def check(what: String, m: Engine.IndexModel): Unit = {
    val out = CodedStore.assignEncode(frame(), m)
    assert(out.columns.toSeq == Seq("id", "vector", "metadata", "code", "cluster_id"))
    val got = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size == input.length, s"$what: ${got.size} distinct ids for ${input.length} rows")
    input.foreach { case (id, v, meta) =>
      val r = got(id)
      assert(java.util.Arrays.equals(r.getSeq[Float](1).toArray, v), s"$what: vector of $id")
      assert(r.getString(2) == meta, s"$what: metadata of $id")
      val x = referencePvec(m.pca, v)
      val cid = referenceNearest(m.centroids, x)
      assert(r.getInt(4) == cid, s"$what: cluster of $id")
      assert(r.getSeq[Int](3) == referenceCode(m, x, cid).toSeq, s"$what: code of $id")
    }
  }

  private lazy val fitted = Pca.fitLocal(input.map(_._2), 8)

  test("identity PCA: kernel equals per-row reference arithmetic") {
    val pca = Pca.identity(D)
    assert(pca.isIdentity)
    check("identity", model(pca))
  }

  test("reduced PCA: kernel equals per-row reference arithmetic") {
    check("reduced", model(fitted))
  }

  test("OPQ-composed PCA: kernel equals per-row reference arithmetic") {
    val r = new Random(9L)
    val rotation = Array.fill(8, 8)(r.nextGaussian())
    check("composed", model(Pca.compose(fitted, rotation)))
  }
}
