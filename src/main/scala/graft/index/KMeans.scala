package graft.index

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** k-means for index construction.
  *
  * Two flavors:
  *  - [[LocalKMeans]]: plain-Scala Lloyd's over an in-memory sample. Used
  *    where the reference also trains on driver-sized samples — coarse
  *    clustering (two_level_clustering.py:64-82: ≤256·k rows), per-cluster
  *    sub-k-means (:24-61, ≤64·k rows) and PQ codebooks (:171-181,
  *    64·256 rows). Sampling happens in Spark; only the sample is local.
  *  - [[KMeansDF]].assign: the full-data assignment pass as a pure
  *    projection (no join, no shuffle) — centroids enter the plan as an
  *    array literal and `argmin` is computed per-row inside codegen.
  *    This is the piece that must scale to 100 TB; everything driver-side
  *    is O(k·d) only.
  */
object LocalKMeans {

  /** Lloyd's algorithm; deterministic under `seed`. Returns `k` centroids
    * (empty clusters keep their previous position, matching Faiss's
    * behavior of not producing NaNs).
    */
  def fit(points: Array[Array[Float]], k: Int, iters: Int = 25,
          seed: Long = 42L): Array[Array[Float]] = {
    require(points.nonEmpty, "kmeans on empty sample")
    val n = points.length
    val d = points(0).length
    val rnd = new Random(seed)
    // init: k distinct random points (or fewer if n < k — pad by reuse)
    val perm = rnd.shuffle((0 until n).toVector)
    val centroids = Array.tabulate(k)(i => points(perm(i % n)).clone())

    val assign = new Array[Int](n)
    var iter = 0
    while (iter < iters) {
      lloydStep(points, centroids, assign)
      iter += 1
    }
    centroids
  }

  /** ONE Lloyd iteration over `centroids` IN PLACE (assignment into
    * `assign`, then the mean update; empty clusters keep their position).
    * Extracted from [[fit]] verbatim so the `kmeans_lloyd_iter` oracle row
    * can replay exactly one step of the production arithmetic in DuckDB.
    */
  def lloydStep(points: Array[Array[Float]], centroids: Array[Array[Float]],
                assign: Array[Int]): Unit = {
    val n = points.length
    val d = points(0).length
    val k = centroids.length
    // assignment
    var i = 0
    while (i < n) {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        var dist = 0.0; var j = 0
        val cc = centroids(c); val p = points(i)
        while (j < d) { val df = p(j) - cc(j); dist += df * df; j += 1 }
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      assign(i) = best
      i += 1
    }
    // update
    val sums = Array.ofDim[Double](k, d)
    val counts = new Array[Int](k)
    i = 0
    while (i < n) {
      val c = assign(i); counts(c) += 1
      var j = 0; val p = points(i)
      while (j < d) { sums(c)(j) += p(j); j += 1 }
      i += 1
    }
    var c = 0
    while (c < k) {
      if (counts(c) > 0) {
        var j = 0
        while (j < d) { centroids(c)(j) = (sums(c)(j) / counts(c)).toFloat; j += 1 }
      }
      c += 1
    }
  }
}

object KMeansDF {

  /** Fraction of the `n` input rows the init sample draws: ~4 rows per
    * centroid plus slack.
    */
  def initFraction(k: Int, n: Long): Double =
    math.min(1.0, (k * 4.0 + 64.0) / math.max(1L, n))

  /** The init sample made deterministic and duplicate-free: distinct
    * vectors sorted on a content hash, ties broken by their text (a
    * duplicate initial centroid would stay degenerate forever — empty
    * clusters keep their position). The first k become the initial
    * centroids when there are k of them. The text is built only for a
    * hash tie; the comparisons are those of the `(hashCode, mkString)`
    * tuple ordering.
    */
  def initCandidates(sampled: Array[Seq[Double]]): Array[Seq[Double]] =
    sampled.distinct.sorted(new Ordering[Seq[Double]] {
      def compare(a: Seq[Double], b: Seq[Double]): Int = {
        val c = Integer.compare(a.hashCode(), b.hashCode())
        if (c != 0) c else a.mkString(",").compareTo(b.mkString(","))
      }
    })

  /** True when the partial-collect Lloyd step's partial set
    * (numPartitions · k · d doubles) is driver-small.
    */
  def partialCollectFits(numPartitions: Int, k: Int, d: Int): Boolean =
    numPartitions.toLong * k * (d * 8L + 24L) <= PartialCollectCap

  private val PartialCollectCap = 64L << 20

  /** One partition's Lloyd partials: per cluster, the row-order double
    * sum of its assigned rows and their count, in first-assignment order.
    * Rows are assigned in [[AssignBatchRows]]-row `nearestBatch` chunks.
    */
  def partialSums(rows: Iterator[Array[Double]], ci: FlatCentroids, d: Int): Partials = {
    val sums: Partials = scala.collection.mutable.LinkedHashMap.empty
    rows.grouped(AssignBatchRows).foreach { chunk =>
      val qs = chunk.toArray
      accumulate(sums, qs, assign(ci, qs), d)
    }
    sums
  }

  type Partials = scala.collection.mutable.LinkedHashMap[Int, (Array[Double], Array[Long])]

  val AssignBatchRows = 1024

  /** The nearest centroid of each of `qs`. */
  def assign(ci: FlatCentroids, qs: Array[Array[Double]]): Array[Int] = {
    val out = new Array[Int](qs.length)
    ci.nearestBatch(qs, out)
    out
  }

  /** Adds rows `qs`, assigned to clusters `out`, to `sums` in row order. */
  def accumulate(sums: Partials, qs: Array[Array[Double]], out: Array[Int], d: Int): Unit = {
    var i = 0
    while (i < qs.length) {
      val e = sums.getOrElseUpdate(out(i),
        (new Array[Double](d), new Array[Long](1)))
      var j = 0; val q = qs(i)
      while (j < d) { e._1(j) += q(j); j += 1 }
      e._2(0) += 1
      i += 1
    }
  }

  /** The Lloyd update from partials `(cluster, sums, count)` listed in
    * partition order: per cluster, the partition sums added in that
    * order, divided once; a cluster with no rows keeps its position.
    */
  def mergePartials(centroids: Array[Array[Float]], d: Int,
                    partials: Iterator[(Int, Seq[Double], Long)]): Array[Array[Float]] = {
    val agg = scala.collection.mutable.LinkedHashMap
      .empty[Int, (Array[Double], Array[Long])]
    partials.foreach { case (c, sv, cnt) =>
      val e = agg.getOrElseUpdate(c, (new Array[Double](d), new Array[Long](1)))
      var j = 0
      while (j < d) { e._1(j) += sv(j); j += 1 }
      e._2(0) += cnt
    }
    val updated = agg.iterator.map { case (c, (sv, cn)) =>
      c -> Array.tabulate(d)(j => (sv(j) / cn(0)).toFloat)
    }.toMap
    Array.tabulate(centroids.length)(c => updated.getOrElse(c, centroids(c)))
  }

  /** Distributed Lloyd's over a DataFrame for cases where even the
    * training sample exceeds driver memory: per-iteration, one map-side
    * partially-aggregated `groupBy(cluster)` with `avg` per dimension
    * (d agg expressions — no explode, one narrow shuffle of k·d partials).
    * Centroids ship per-iteration as a broadcast (plan size O(1) in k).
    * `vecCol` is `array<double>` (PCA space). Input is cached for the
    * iteration loop and unpersisted on exit.
    */
  def fitDistributed(df: DataFrame, vecCol: String, d: Int, k: Int,
                     iters: Int = 25, seed: Long = 42L): Array[Array[Float]] = {
    val spark = df.sparkSession
    val work = df.select(col(vecCol)).persist()
    val n = work.count()
    require(n > 0, "kmeans on empty input")
    // init: a cheap sample pass (never a global sort-by-rand), made
    // deterministic + duplicate-free by initCandidates
    val sampled = work
      .sample(withReplacement = false, initFraction(k, n), seed)
      .collect().map(_.getSeq[Double](0))
    val distinctSorted = initCandidates(sampled)
    var centroids: Array[Array[Float]] =
      (if (distinctSorted.length >= k) distinctSorted.take(k)
       else {
         // underfilled sample (tiny n or unlucky fraction): pull the global
         // distinct head by content hash — n is small on this path
         work.distinct().orderBy(hash(col(vecCol)), col(vecCol).cast("string"))
           .limit(k).collect().map(_.getSeq[Double](0))
       }).map(_.map(_.toFloat).toArray).toArray
    if (centroids.length < k) {
      // fewer than k distinct vectors: pad with seeded-jitter copies so the
      // centroid count (and downstream nlist) stays stable
      val rnd = new Random(seed)
      centroids = Array.tabulate(k) { i =>
        if (i < centroids.length) centroids(i)
        else centroids(i % math.max(1, centroids.length))
          .map(x => x + (rnd.nextFloat() - 0.5f) * 1e-4f)
      }
    }
    // Two Lloyd-update strategies, bit-identical where both apply
    // (KMeansOnePlanSpec pins it): Spark's Average is (partial double
    // sum in row order per input partition) merged in partition order
    // then divided once — exactly what the shuffle-free path below
    // computes by hand.
    //
    //  - PARTIAL-COLLECT (r19, small partial sets): each partition emits
    //    its per-cluster (sumVec, count) partials straight to the driver
    //    — a SINGLE-STAGE job per iteration (no exchange, no
    //    per-iteration Catalyst plan: the one frame is reused, and with
    //    no shuffle dependency nothing is stage-skip cached between
    //    iterations), merged in partition order on the driver. Measured
    //    ~2× per-iteration cost of the plan-per-iteration loop at
    //    sample scale.
    //  - GROUPBY (large k·d·partitions): the partial set itself
    //    (numPartitions · k · d doubles) stops being driver-small, so
    //    the classic per-iteration groupBy/avg keeps partials on the
    //    cluster; centroids ship as a per-iteration broadcast.
    try {
      if (partialCollectFits(work.rdd.getNumPartitions, k, d)) {
        val holder = new java.util.concurrent.atomic.AtomicReference[FlatCentroids]()
        val vecIdx = work.schema.fieldIndex(vecCol)
        val outSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cluster",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("sums",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, containsNull = false),
            nullable = false),
          org.apache.spark.sql.types.StructField("cnt",
            org.apache.spark.sql.types.LongType, nullable = false)))
        val partials = work.mapPartitions { rows =>
          val ci = holder.get // re-captured at each job's task serialization
          partialSums(rows.map(_.getSeq[Double](vecIdx).toArray), ci, d)
            .iterator.map { case (c, (sv, cn)) =>
              org.apache.spark.sql.Row(c, sv.toSeq, cn(0))
            }
        }(org.apache.spark.sql.Encoders.row(outSchema))
        for (_ <- 0 until iters) {
          holder.set(FlatCentroids.build(centroids))
          centroids = mergePartials(centroids, d,
            // collect preserves partition order
            partials.collect().iterator.map(r => (r.getInt(0), r.getSeq[Double](1), r.getLong(2))))
        }
      } else {
        for (_ <- 0 until iters) {
          // flat layout + norms rebuild per iteration (centroids moved) —
          // O(k·d) next to the full-sample assignment pass it accelerates
          val bc = spark.sparkContext.broadcast(FlatCentroids.build(centroids))
          val aggs = (0 until d).map(i => avg(col(vecCol)(i)).as(s"c$i"))
          val updated =
            try Coder.withNearestBatched(work, vecCol, "cluster", bc)
              .groupBy("cluster").agg(aggs.head, aggs.tail: _*)
              .collect()
              .map(r => r.getInt(0) -> Array.tabulate(d)(i => r.getDouble(i + 1).toFloat))
              .toMap
            finally bc.destroy() // don't accumulate k·d arrays per iter
          centroids = Array.tabulate(centroids.length)(c =>
            updated.getOrElse(c, centroids(c)))
        }
      }
      centroids
    } finally work.unpersist()
  }
}
