package graft.index

import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.util.random.BernoulliCellSampler

/** The train's model fit (reference T9–T15; train.py:45-96,
  * two_level_clustering.py:119-185): PCA on a 100·d sample, an optional
  * OPQ rotation on a 64·256 sample, IVF centroids and PQ codebooks on a
  * 64·256 sample of assigned residuals, all over `table`'s `(id, vector)`
  * rows.
  *
  * Two paths fit the same models:
  *  - [[distributed]] draws each sample with its own Spark pass and runs
  *    the IVF k-means as Spark jobs ([[KMeansDF.fitDistributed]]) or as
  *    [[TwoLevelClustering]].
  *  - [[local]] takes the union of the subsample strategy's samples in ONE
  *    pass and fits everything on the driver, the way the reference fits
  *    in memory. Each sample is exactly the one `Dataset.sample` draws:
  *    that operator keeps a row when a [[BernoulliCellSampler]] seeded
  *    with `seed + partitionIndex` draws below the fraction, and every
  *    sample here uses the same seed, so one sampler per sample replays
  *    its draws row by row. The `limit`s keep the first rows in partition
  *    order, as `CollectLimitExec` does. The k-means is
  *    [[KMeansDF.fitDistributed]]'s algorithm on the collected rows: its
  *    init sample (drawn per partition with the same sampler) and its
  *    partial-collect Lloyd step (per-partition partials merged in
  *    partition order), so the centroids are its centroids.
  *
  * [[fit]] takes the local path when the sample fits the driver budget,
  * and the distributed one otherwise and for the two-level strategy.
  */
object IndexFit {

  /** Rows of the OPQ and PQ training samples (two_level_clustering.py:171-181). */
  val PqSampleRows: Int = 64 * 256

  final case class Fitted(pca: PcaModel, centroids: Array[Array[Float]], pq: PqModel)

  /** One train's geometry: `n` pinned rows of dimension `d`, validated
    * `params`, `nlist` centroids and the sample sizes derived from them.
    */
  final case class Spec(n: Long, d: Int, params: IndexParams, nlist: Int,
                        kmeansIters: Int, seed: Long) {
    val identityPca: Boolean = params.pcaDimension == d
    val effDim: Int = if (params.omitOpq) params.pcaDimension else params.opqDimension
    val pcaRows: Int = math.min(n, 100L * d).toInt
    val kmeansRows: Long = math.min(n, 256L * nlist)

    def pcaFraction: Double = math.min(1.0, pcaRows * 1.1 / math.max(1L, n))
    def opqFraction: Double = math.min(1.0, PqSampleRows * 1.1 / n)
    def kmeansFraction: Double = math.min(1.0, kmeansRows.toDouble / n)
    def pqFraction: Double = math.min(1.0, PqSampleRows * 1.1 / n)

    /** Fractions of the local pass's samples, indexed by the `*Sample`
      * bits; 0 for a sample this train does not draw.
      */
    private[IndexFit] def fractions: Array[Double] = Array(
      if (identityPca) 0.0 else pcaFraction,
      if (params.omitOpq) 0.0 else opqFraction,
      kmeansFraction,
      pqFraction)

    /** Driver bytes the local path holds: the expected union rows, each
      * with its collected and deserialized vector and up to three
      * PCA-space copies.
      */
    def localBytes: Long = {
      val rows = math.ceil(n * fractions.max).toLong
      rows * (8L * d + 24L * params.pcaDimension + 64L)
    }
  }

  /** The local path when the strategy is the subsample one and
    * [[Spec.localBytes]] fits `budgetBytes`; the distributed one otherwise.
    */
  def fit(table: DataFrame, s: Spec, twoLevel: Boolean, budgetBytes: Long): Fitted =
    if (!twoLevel && s.localBytes <= budgetBytes &&
        KMeansDF.partialCollectFits(
          table.queryExecution.toRdd.getNumPartitions, s.nlist, s.effDim))
      local(table, s)
    else distributed(table, s, twoLevel)

  /** One Spark pass per sample; the IVF fit runs as Spark jobs. */
  def distributed(table: DataFrame, s: Spec, twoLevel: Boolean): Fitted = {
    val p = s.params
    val n = s.n
    val pcaBase =
      if (s.identityPca) Pca.identity(s.d)
      else Pca.fit(table, "vector", s.d, p.pcaDimension,
        sampleSize = s.pcaRows, seed = s.seed, totalRows = n)
    val pca =
      if (p.omitOpq) pcaBase
      else {
        val opqSample = projectedView(table, pcaBase)
          .sample(withReplacement = false, s.opqFraction, s.seed)
          .limit(PqSampleRows)
          .select("pvec").collect()
          .map(_.getSeq[Double](0).map(_.toFloat).toArray)
        val r = Opq.fit(opqSample, p.opqDimension, p.compressedVectorBytes,
          seed = s.seed)
        Pca.compose(pcaBase, r)
      }
    val projected = projectedView(table, pca)
    val centroids: Array[Array[Float]] =
      if (twoLevel)
        TwoLevelClustering.fit(projected, "pvec", s.effDim, s.nlist,
          s.kmeansIters, s.seed, totalRows = n)
      else kmeansDistributed(projected, s)
    // residuals computed by the broadcast kernel
    val pqSample = projected
      .sample(withReplacement = false, s.pqFraction, s.seed)
      .limit(PqSampleRows)
      .select(Coder.residualCol(table.sparkSession, centroids, col("pvec")).as("res"))
      .collect().map(_.getSeq[Double](0).map(_.toFloat).toArray)
    val pq = ProductQuantizer.fit(pqSample, p.compressedVectorBytes,
      iters = s.kmeansIters, seed = s.seed)
    Fitted(pca, centroids, pq)
  }

  private def kmeansDistributed(projected: DataFrame, s: Spec): Array[Array[Float]] =
    KMeansDF.fitDistributed(
      projected.sample(withReplacement = false, s.kmeansFraction, s.seed),
      "pvec", s.effDim, s.nlist, s.kmeansIters, s.seed)

  private val PcaSample = 0
  private val OpqSample = 1
  private val KmeansSample = 2
  private val PqSample = 3

  /** One partition's rows that fall in any sample, in row order, each
    * with its sample-membership bits.
    */
  private final case class Part(masks: Array[Byte], rows: Array[Array[Float]]) {
    def in(sample: Int): Iterator[Array[Float]] =
      rows.iterator.zip(masks.iterator).collect {
        case (r, m) if (m & (1 << sample)) != 0 => r
      }
  }

  /** One sample pass, then PCA, OPQ, k-means and PQ on the driver. */
  def local(table: DataFrame, s: Spec): Fitted = {
    val p = s.params
    val seed = s.seed
    val fractions = s.fractions
    val vecIdx = table.schema.fieldIndex("vector")
    val parts: Array[Part] = table.queryExecution.toRdd.mapPartitionsWithIndex { (pi, rows) =>
      val samplers = fractions.map { f =>
        val b = new BernoulliCellSampler[Any](0.0, f, false)
        b.setSeed(seed + pi)
        b
      }
      val masks = Array.newBuilder[Byte]
      val kept = Array.newBuilder[Array[Float]]
      rows.foreach { r =>
        var m = 0
        var i = 0
        while (i < samplers.length) {
          if (fractions(i) > 0 && samplers(i).sample() == 1) m |= 1 << i
          i += 1
        }
        if (m != 0) {
          masks += m.toByte
          kept += r.getArray(vecIdx).toFloatArray()
        }
      }
      Iterator(Part(masks.result(), kept.result()))
    }.collect() // partition order
    def firstRows(sample: Int, limit: Int): Array[Array[Float]] =
      parts.iterator.flatMap(_.in(sample)).take(limit).toArray

    val pcaBase =
      if (s.identityPca) Pca.identity(s.d)
      else Pca.fitLocal(firstRows(PcaSample, s.pcaRows), p.pcaDimension)
    val pca =
      if (p.omitOpq) pcaBase
      else {
        val opqSample = mapRows(firstRows(OpqSample, PqSampleRows))(v =>
          project(pcaBase, v).map(_.toFloat))
        val r = Opq.fit(opqSample, p.opqDimension, p.compressedVectorBytes, seed = seed)
        Pca.compose(pcaBase, r)
      }

    val kmSizes = parts.map(_.in(KmeansSample).size)
    val kmRows = mapRows(parts.flatMap(_.in(KmeansSample)))(project(pca, _))
    val kmOffsets = kmSizes.scanLeft(0)(_ + _)
    val kmParts = Array.tabulate(parts.length)(pi =>
      java.util.Arrays.copyOfRange(kmRows, kmOffsets(pi), kmOffsets(pi + 1)))
    val centroids = kmeansLocal(kmParts, s).getOrElse(
      kmeansDistributed(projectedView(table, pca), s))

    val flat = FlatCentroids.build(centroids)
    val pqSample = mapRows(firstRows(PqSample, PqSampleRows))(v =>
      Coder.residual(flat, project(pca, v)).map(_.toFloat))
    val pq = ProductQuantizer.fit(pqSample, p.compressedVectorBytes,
      iters = s.kmeansIters, seed = seed)
    Fitted(pca, centroids, pq)
  }

  /** [[KMeansDF.fitDistributed]] on the k-means sample's rows, listed per
    * input partition; None when its init sample holds fewer than k
    * distinct rows (that branch orders by Spark's `hash()`, so the caller
    * runs the distributed fit). Each iteration assigns the partitions'
    * `nearestBatch` chunks on the [[FitPool]], then sums each partition in
    * row order and merges the partials in partition order.
    */
  private def kmeansLocal(kmParts: Array[Array[Array[Double]]],
                          s: Spec): Option[Array[Array[Float]]] = {
    val k = s.nlist
    val d = s.effDim
    val n = kmParts.iterator.map(_.length.toLong).sum
    require(n > 0, "kmeans on empty input")
    val initFraction = KMeansDF.initFraction(k, n)
    val sampled = kmParts.zipWithIndex.flatMap { case (rows, pi) =>
      val b = new BernoulliCellSampler[Any](0.0, initFraction, false)
      b.setSeed(s.seed + pi)
      rows.filter(_ => b.sample() == 1).map(r => r.toSeq)
    }
    val candidates = KMeansDF.initCandidates(sampled)
    if (candidates.length < k) None
    else {
      val chunks: Array[(Int, Array[Array[Double]])] = kmParts.zipWithIndex.flatMap {
        case (rows, pi) => rows.grouped(KMeansDF.AssignBatchRows).map(pi -> _)
      }
      var centroids = candidates.take(k).map(_.map(_.toFloat).toArray)
      for (_ <- 0 until s.kmeansIters) {
        val ci = FlatCentroids.build(centroids)
        val assigned = FitPool.tabulate(chunks.length)(i => KMeansDF.assign(ci, chunks(i)._2))
        val partials = Array.fill(kmParts.length)(new KMeansDF.Partials)
        chunks.indices.foreach { i =>
          KMeansDF.accumulate(partials(chunks(i)._1), chunks(i)._2, assigned(i), d)
        }
        centroids = KMeansDF.mergePartials(centroids, d, partials.iterator.flatMap(
          _.iterator.map { case (c, (sv, cn)) => (c, sv.toSeq, cn(0)) }))
      }
      Some(centroids)
    }
  }

  /** `rows.map(f)`, in [[MapChunkRows]]-row chunks on the [[FitPool]]. */
  private def mapRows[T: ClassTag](rows: Array[Array[Float]])(f: Array[Float] => T): Array[T] = {
    val chunks = rows.grouped(MapChunkRows).toArray
    FitPool.tabulate(chunks.length)(i => chunks(i).map(f)).flatten
  }

  private val MapChunkRows = 1024

  /** `(id, pvec)` PCA-space view of `(id, vector)` rows. Identity PCA is a
    * plain cast (no d×d matmul); otherwise the matrix ships as a broadcast.
    */
  private def projectedView(rows: DataFrame, pca: PcaModel): DataFrame =
    if (pca.isIdentity)
      rows.select(col("id"), col("vector").cast("array<double>").as("pvec"))
    else
      rows.select(col("id"),
        Coder.pcaApplyCol(rows.sparkSession, pca, col("vector")).as("pvec"))

  /** [[projectedView]]'s arithmetic for one driver-side row. */
  private def project(pca: PcaModel, v: Array[Float]): Array[Double] =
    if (pca.isIdentity) v.map(_.toDouble)
    else Coder.pcaApply(pca.mean, pca.components, i => v(i).toDouble)
}
