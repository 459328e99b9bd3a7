package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Engine.IndexModel
import graft.functions.VectorFunctions
import graft.index.{AdcHeap, AdcKernel}

/** Batched trained-index ANN: the throughput form of the reference's
  * two-stage search (mindb.py:368-442) — q query vectors share ONE
  * partition-pruned scan of the PQ-coded table instead of q driver
  * round-trips. This is where the Spark engine beats the single-node
  * reference at scale: per-query cost amortizes to (rows scanned ×
  * q_probing) kernel flops and a shuffle bounded by O(partitions·q·k).
  *
  * Stage 1 (coarse): scan only the union of all queries' probed clusters
  * (partition pruning); per row, read the PQ code once and score
  * ‖q_pca − (centroid + codebook residual)‖² with the serving ADC kernel
  * ([[graft.index.AdcKernel]]) for exactly the queries probing that
  * cluster — the same value the single-query path computes — into
  * per-query bounded heaps of size
  * preliminaryTopK. Stage 2 (rerank): exact dot over the fetched candidate
  * vectors, per-query top-finalTopK. Both shuffles move candidate rows,
  * never scored cross products.
  *
  * The index model ships as a CALLER-OWNED broadcast reused across queries
  * (size O(nlist·p + m·256·sub), independent of nprobe and of q); only the
  * per-call query vectors + probe map are shipped per invocation — at the
  * reference's own nlist=200k heuristic scale that is KBs per query, not
  * the ~400 MB per-query LUT push a driver-built ADC table would cost.
  */
object BatchANN {

  /** @param bcModel  caller-owned broadcast of the index artifacts (reused
    *                 across queries; the caller manages its lifecycle)
    * @param queriesP (query_id, PCA-projected normalized query) pairs
    * @param probes   per-query probed cluster ids (same order as queriesP)
    * @return (query_id, id, adc_dist, cluster_id) candidate rows, ≤ prelimK
    *         per query, smallest (adc_dist, id) first within each query.
    *         cluster_id rides along so the downstream fetch can prune its
    *         scan to exactly the clusters that hold candidates — a strict
    *         (typically much smaller) subset of the probed set
    */
  def coarseCandidates(spark: SparkSession, coded: DataFrame,
                       bcModel: Broadcast[IndexModel],
                       queriesP: Array[(Long, Array[Float])],
                       probes: Array[Array[Int]],
                       prelimK: Int): DataFrame = {
    // invert probe sets: cluster -> indices of queries probing it.
    // Per-call broadcast is O(q·(p + nprobe)) — small — while the heavy
    // model artifacts ride the reusable bcModel.
    val clusterToQueries: Map[Int, Array[Int]] =
      probes.zipWithIndex
        .flatMap { case (cs, qi) => cs.map(c => c -> qi) }
        .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    val bcQ = spark.sparkContext.broadcast((queriesP.map(_._2), clusterToQueries))
    val qIds = queriesP.map(_._1)

    val src = coded.select(col("id").cast("long"), col("cluster_id").cast("int"),
      col("code"))

    // InternalRow scan (queryExecution.toRdd), not the boxing Row API:
    // this kernel touches every probed row, and `getSeq[Int]` boxed each
    // of the m code bytes (100M geometry: 3M rows × 16 codes per query
    // batch = 48M boxed Integers of pure GC pressure). InternalRows are
    // REUSED by the scan — nothing here retains one past its iteration
    // (heap entries are primitive tuples).
    val partialRdd = src.queryExecution.toRdd.mapPartitions { it =>
      val model = bcModel.value
      val (qvecs, c2q) = bcQ.value
      val tables = model.adcTables
      val heaps = scanPartitionHeaps(it,
        qvecs.map(q => new AdcKernel(tables, q)), c2q, prelimK)
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        Iterator.tabulate(h.sortAscending())(i =>
          Row(qIds(qi), h.ids(i), h.dists(i), h.tags(i)))
      }
    }
    val partial = spark.createDataFrame(partialRdd, StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("adc_dist", DoubleType, nullable = false),
      StructField("cluster_id", IntegerType, nullable = false))))
    // exact global merge over ≤ partitions·q·prelimK rows
    val w = Window.partitionBy("query_id").orderBy(col("adc_dist"), col("id"))
    partial.withColumn("rn", row_number().over(w)).filter(col("rn") <= prelimK)
      .select("query_id", "id", "adc_dist", "cluster_id")
  }

  /** The per-partition coarse kernel shared by [[coarseCandidates]] and
    * [[coarsePartition]]: copy each probed row's PQ code once and score it
    * with [[AdcKernel]] for exactly the queries probing its cluster, into
    * per-query bounded heaps. Returns one heap per query (one kernel each)
    * of ≤ prelimK (adc_dist, id, cluster_id-as-tag) entries.
    */
  private def scanPartitionHeaps(
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      kernels: Array[AdcKernel],
      c2q: Map[Int, Array[Int]], prelimK: Int): Array[AdcHeap] = {
    val heaps = Array.fill(kernels.length)(new AdcHeap(prelimK))
    if (kernels.isEmpty) return heaps
    val m = kernels(0).m
    val codes = new Array[Byte](m)
    // each probed cluster's centroid is widened on its first row here
    val probed = c2q.map { case (c, qs) => c -> new Probed(qs) }
    it.foreach { r =>
      val cid = r.getInt(1)
      val pc = probed.getOrElse(cid, null)
      if (pc != null) {
        val probing = pc.queries
        val id = r.getLong(0)
        val code = r.getArray(2)
        var j = 0
        while (j < m) { codes(j) = code.getInt(j).toByte; j += 1 }
        if (pc.cc == null) pc.cc = kernels(0).centroid(cid)
        val cc = pc.cc
        var k = 0
        while (k < probing.length) {
          val qi = probing(k)
          val h = heaps(qi)
          val d = kernels(qi).dist(codes, 0, cc, h.bound)
          if (h.admits(d, id)) h.offer(d, id, cid, 0)
          k += 1
        }
      }
    }
    heaps
  }

  // One probed cluster in a partition scan: the queries probing it and its
  // centroid, widened on the first row that needs it.
  private final class Probed(val queries: Array[Int]) {
    var cc: Array[Double] = null
  }

  /** The q=1 per-partition coarse stage as a plain function: the shared
    * kernel over an InternalRow iterator, drained to three flat
    * primitive arrays in (adc_dist, id) order (the task wire format —
    * ship arrays, not ~500 boxed tuples). [[graft.core.ServingScan]]'s
    * plan-free tasks run it; the kernel is [[coarseCandidates]]' own, so
    * a single query's heaps match the batch form's at q=1.
    */
  def coarsePartition(it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
                      model: IndexModel, qp: Array[Float], probeSet: Set[Int],
                      prelimK: Int)
      : (Array[Double], Array[Long], Array[Int]) =
    coarsePartitionWith(it, new AdcKernel(model.adcTables, qp), probeSet,
      prelimK)

  /** [[coarsePartition]] with the caller's kernel (specs force its scalar
    * form).
    */
  private[graft] def coarsePartitionWith(
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      kernel: AdcKernel, probeSet: Set[Int], prelimK: Int)
      : (Array[Double], Array[Long], Array[Int]) = {
    val c2q = probeSet.iterator.map(c => c -> Array(0)).toMap
    val heap = scanPartitionHeaps(it, Array(kernel), c2q, prelimK)(0)
    val n = heap.sortAscending()
    (java.util.Arrays.copyOf(heap.dists, n), java.util.Arrays.copyOf(heap.ids, n),
      java.util.Arrays.copyOf(heap.tags, n))
  }

  /** Exact driver-side merge of per-partition coarse results: global
    * (adc_dist, id) order, ≤ prelimK rows — the same cut
    * [[coarseCandidates]]' window takes per query.
    */
  def mergeCoarseParts(parts: Seq[(Array[Double], Array[Long], Array[Int])],
                       prelimK: Int): Array[(Long, Double, Int)] = {
    val ps = parts.toArray
    val heap = new AdcHeap(prelimK)
    var p = 0
    while (p < ps.length) {
      val (ds, ids, _) = ps(p)
      var i = 0
      while (i < ds.length) { heap.keep(ds(i), ids(i), p, i); i += 1 }
      p += 1
    }
    Array.tabulate(heap.sortAscending())(i =>
      (heap.ids(i), heap.dists(i), ps(heap.tags(i))._3(heap.rows(i))))
  }

  /** Exact rerank of per-query candidate id sets against the full-precision
    * vectors: score only rows in a query's own candidate set. No UDF — the
    * query vectors join in as a broadcast-small column and scoring is the
    * native codegen `dot`, so the whole stage stays in whole-stage codegen.
    * `table`: (cluster_id, id, vector, metadata) — on the trained path
    * this is the COVERING coded scan pruned to the clusters that HOLD
    * candidates (never the base table — a full base-table fetch measured
    * 20 s/query at 1M×768; and never the full probe union — decoding
    * candidate-less probed clusters measured 5-10 s/query at 100M).
    * `qn`: normalized full-dim queries.
    */
  def rerank(spark: SparkSession, table: DataFrame, candidates: DataFrame,
             qn: Array[(Long, Array[Float])], finalTopK: Int): DataFrame = {
    val qSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("qvec", ArrayType(FloatType, containsNull = false), nullable = false)))
    val qDf = spark.createDataFrame(
      java.util.Arrays.asList(qn.map { case (qid, v) => Row(qid, v.toSeq) }: _*), qSchema)
    // candidates (query_id, id, cluster_id) are ≤ q·prelimK rows: broadcast
    // both tiny sides; the covering scan is read once, never shuffled
    val scored = table
      .join(broadcast(candidates.select("query_id", "id", "cluster_id")),
        Seq("cluster_id", "id"))
      .join(broadcast(qDf), Seq("query_id"))
      .select(col("query_id"), col("id"), col("metadata"),
        VectorFunctions.dot(col("vector"), col("qvec")).as("cosine_similarity"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine_similarity").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= finalTopK)
      .select("query_id", "id", "metadata", "cosine_similarity", "rank")
  }
}
