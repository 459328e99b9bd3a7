package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.IntegerType

/** Broadcast-backed index-math columns for the hot full-table passes.
  *
  * The index artifacts (IVF centroids, PQ codebooks, PCA matrix) must NOT
  * enter the plan as literals: at the reference's own heuristic scale
  * (nlist = 200k, pcaDim 256 — training_utils.py:5-9) a
  * `typedLit` centroid array is ~400 MB serialized into every task binary.
  * Here each artifact ships once per executor as a broadcast variable and
  * the per-row math runs as a tight primitive loop — plan size O(1) in
  * nlist/m/d, and the loops (batched argmin, residual encode) are faster
  * than the equivalent boxed Catalyst array-lambda chain. The full-table
  * assign+encode pass that uses them is `CodedStore.assignEncode`.
  *
  * Reference semantics: nearest-centroid assignment
  * (two_level_clustering.py:11-21), residual PQ encode (Faiss IVFPQ
  * add_with_ids, train.py:112-132), ADC scan (mindb.py:417).
  */
object Coder {

  /** Rows buffered per [[FlatCentroids.nearestBatch]] call in the batched
    * passes — enough to fill many SIMD tiles, small enough that a chunk of
    * rows (ids + vectors + metadata) is trivially bounded in memory.
    */
  private[graft] val BatchRows = 1024

  /** Appends `outCol` = exact nearest-centroid id, computed BATCHED: rows
    * stream through `mapPartitions` in [[BatchRows]] chunks so the SIMD
    * tile kernel gets one query per vector lane instead of a per-row call
    * (the per-row path pays a lane reduction per centroid — measured 5×
    * slower at nlist 91k). Results are identical to
    * [[FlatCentroids.nearest]] per row; all other columns pass through
    * untouched.
    */
  def withNearestBatched(df: DataFrame, vecCol: String, outCol: String,
                         bc: Broadcast[FlatCentroids]): DataFrame = {
    val vecIdx = df.schema.fieldIndex(vecCol)
    val outSchema = df.schema.add(outCol, IntegerType, nullable = false)
    df.mapPartitions { rows =>
      rows.grouped(BatchRows).flatMap { chunk =>
        val qs = chunk.iterator.map(_.getSeq[Double](vecIdx).toArray).toArray
        val out = new Array[Int](qs.length)
        bc.value.nearestBatch(qs, out)
        chunk.iterator.zipWithIndex.map { case (r, i) =>
          Row.fromSeq(r.toSeq :+ out(i))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Residual PQ encode of one PCA-space vector against its assigned
    * centroid `cid`: per subspace, the argmin over the codebook of
    * Σ ((v − centroid) − entry)² in double, strict `<`, lowest index on
    * ties. The coded write's per-row arithmetic.
    */
  def encodeResidual(arr: Array[Double], ci: FlatCentroids, cid: Int,
                     cbs: Array[Array[Array[Float]]], subDim: Int): Array[Int] = {
    val m = cbs.length
    val base = cid * ci.d
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val cb = cbs(j)
      val off = j * subDim
      var best = 0
      var bestD = Double.MaxValue
      var k = 0
      while (k < cb.length) {
        val e = cb(k)
        var s = 0.0
        var t = 0
        while (t < subDim) {
          val df0 = (arr(off + t) - ci.flat(base + off + t)) - e(t)
          s += df0 * df0
          t += 1
        }
        if (s < bestD) { bestD = s; best = k }
        k += 1
      }
      codes(j) = best
      j += 1
    }
    codes
  }

  /** Assigned residual `v − centroid(argmin)` — the PQ-codebook training
    * input (Faiss IVFPQ trains PQ on residuals; train.py:112-132).
    */
  def residualCol(spark: SparkSession, centroids: Array[Array[Float]],
                  vec: Column): Column = {
    val bc = spark.sparkContext.broadcast(FlatCentroids.build(centroids))
    val f = udf { (v: Seq[Double]) => residual(bc.value, v.toArray) }
    f(vec)
  }

  /** [[residualCol]]'s per-row arithmetic, shared with the driver-local fit. */
  def residual(ci: FlatCentroids, arr: Array[Double]): Array[Double] = {
    val base = ci.nearest(arr) * ci.d
    val out = new Array[Double](arr.length)
    var i = 0
    while (i < arr.length) { out(i) = arr(i) - ci.flat(base + i); i += 1 }
    out
  }

  /** PCA apply y = W·(x−μ) as a broadcast-backed column (the projection
    * of the distributed fit's samples; the d×p matrix never enters the
    * plan).
    */
  def pcaApplyCol(spark: SparkSession, pca: PcaModel, vec: Column): Column = {
    val bc = spark.sparkContext.broadcast((pca.mean, pca.components))
    val f = udf { (v: Seq[Double]) =>
      val (mean, comps) = bc.value
      pcaApply(mean, comps, i => v(i))
    }
    f(vec)
  }

  /** [[pcaApplyCol]]'s per-row arithmetic, shared with the driver-local
    * fit and the coded write: `v(i)` is the input vector's i-th element as
    * a double.
    */
  def pcaApply(mean: Array[Double], comps: Array[Array[Double]],
               v: Int => Double): Array[Double] = {
    val c = new Array[Double](mean.length)
    var i = 0
    while (i < mean.length) { c(i) = v(i) - mean(i); i += 1 }
    val out = new Array[Double](comps.length)
    i = 0
    while (i < comps.length) {
      val row = comps(i)
      var s = 0.0
      var j = 0
      while (j < row.length) { s += row(j) * c(j); j += 1 }
      out(i) = s
      i += 1
    }
    out
  }
}
