package graft.operators

import scala.collection.mutable.PriorityQueue

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Engine.IndexModel
import graft.functions.VectorFunctions

/** Batched trained-index ANN: the throughput form of the reference's
  * two-stage search (mindb.py:368-442) — q query vectors share ONE
  * partition-pruned scan of the PQ-coded table instead of q driver
  * round-trips. This is where the Spark engine beats the single-node
  * reference at scale: per-query cost amortizes to (rows scanned ×
  * q_probing) kernel flops and a shuffle bounded by O(partitions·q·k).
  *
  * Stage 1 (coarse): scan only the union of all queries' probed clusters
  * (partition pruning); per row, decode the PQ code once
  * (centroid + codebook residual) and score ‖q_pca − reconstructed‖² for
  * exactly the queries probing that cluster — the same value the
  * single-query ADC LUT computes — into per-query bounded heaps of size
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
      val heaps = scanPartitionHeaps(it, model, qvecs, c2q, prelimK)
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (d, id, cid) => Row(qIds(qi), id, d, cid) }
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
    * [[coarsePartition]]: decode each probed row's PQ code once, score it
    * for exactly the queries probing its cluster, keep per-query bounded
    * heaps. Returns one heap per query of ≤ prelimK (adc_dist, id,
    * cluster_id) entries — worst kept under (dist asc, id asc) on top.
    */
  private def scanPartitionHeaps(
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      model: IndexModel, qvecs: Array[Array[Float]],
      c2q: Map[Int, Array[Int]],
      prelimK: Int): Array[PriorityQueue[(Double, Long, Int)]] = {
    val (centroids, codebooks, subDim) =
      (model.centroids, model.pq.codebooks, model.pq.subDim)
    val m = codebooks.length
    val p = if (qvecs.isEmpty) 0 else qvecs(0).length
    // max-heap on (dist, id): head = worst kept under (dist asc, id asc);
    // the cluster id tags along for the downstream pruned fetch
    val heapOrd = Ordering.by[(Double, Long, Int), (Double, Long)](e => (e._1, e._2))
    val heaps = Array.fill(qvecs.length)(
      PriorityQueue.empty[(Double, Long, Int)](heapOrd))
    val recon = new Array[Double](p)
    val codeBuf = new Array[Int](m)
    it.foreach { r =>
      val cid = r.getInt(1)
      c2q.get(cid).foreach { probing =>
        val id = r.getLong(0)
        val code = r.getArray(2)
        var j = 0
        while (j < m) { codeBuf(j) = code.getInt(j); j += 1 }
        val cc = centroids(cid)
        if (probing.length == 1) {
          // single-query fused reconstruct+distance (r18): the separate
          // recon pass built all p dims while the bounded distance loop
          // early-exits after a handful once the heap fills — fusing
          // skips the dims the exit never reads. Same per-dim expression
          // and accumulation order → bit-identical dist (the batch form
          // below amortizes ONE reconstruction over many queries, where
          // the separate pass is the right trade).
          val qi = probing(0)
          val q = qvecs(qi)
          val h = heaps(qi)
          val full = h.size >= prelimK
          val bound = if (full) h.head._1 else Double.MaxValue
          // bound check hoisted to once per subquantizer (r18b); for
          // subDim==8 the block sum uses the PAIRWISE-TREE grouping
          // (r18c) — same grouping as PreparedANN.servePartition and the
          // DuckDB replay (see the comment there): breaks the serial FP
          // add chain, measured 123 → 68 ns/row (ADC micro-profile,
          // CHANGES_r18.md)
          var d = 0.0
          var j = 0
          if (subDim == 8) {
            while (j < m && d <= bound) {
              val cb = codebooks(j)(codeBuf(j))
              val off = j * subDim
              val e0 = q(off) - (cc(off).toDouble + cb(0))
              val e1 = q(off + 1) - (cc(off + 1).toDouble + cb(1))
              val e2 = q(off + 2) - (cc(off + 2).toDouble + cb(2))
              val e3 = q(off + 3) - (cc(off + 3).toDouble + cb(3))
              val e4 = q(off + 4) - (cc(off + 4).toDouble + cb(4))
              val e5 = q(off + 5) - (cc(off + 5).toDouble + cb(5))
              val e6 = q(off + 6) - (cc(off + 6).toDouble + cb(6))
              val e7 = q(off + 7) - (cc(off + 7).toDouble + cb(7))
              d += ((e0 * e0 + e1 * e1) + (e2 * e2 + e3 * e3)) +
                ((e4 * e4 + e5 * e5) + (e6 * e6 + e7 * e7))
              j += 1
            }
          } else {
            while (j < m && d <= bound) {
              val cb = codebooks(j)(codeBuf(j))
              val off = j * subDim
              var t = 0
              while (t < subDim) {
                val df = q(off + t) - (cc(off + t).toDouble + cb(t))
                d += df * df
                t += 1
              }
              j += 1
            }
          }
          if (!full) h.enqueue((d, id, cid))
          else {
            val (wd, wid, _) = h.head
            if (d < wd || (d == wd && id < wid)) {
              h.dequeue(); h.enqueue((d, id, cid))
            }
          }
        } else {
          var j = 0
          while (j < m) {
            val cb = codebooks(j)(codeBuf(j))
            val off = j * subDim
            var t = 0
            while (t < subDim) { recon(off + t) = cc(off + t).toDouble + cb(t); t += 1 }
            j += 1
          }
          var k = 0
          while (k < probing.length) {
            val qi = probing(k)
            val q = qvecs(qi)
            val h = heaps(qi)
            val full = h.size >= prelimK
            val bound = if (full) h.head._1 else Double.MaxValue
            // per-subDim-block bound check (r18b) + the same
            // pairwise-tree grouping as the fused branch when subDim==8
            // (r18c): recon(x) IS cc+cb bit-for-bit, so both branches
            // produce identical dists — a query served partly by each
            // branch (probing.length varies per partition) merges
            // consistently
            var d = 0.0
            var x = 0
            if (subDim == 8) {
              while (x < p && d <= bound) {
                val e0 = q(x) - recon(x)
                val e1 = q(x + 1) - recon(x + 1)
                val e2 = q(x + 2) - recon(x + 2)
                val e3 = q(x + 3) - recon(x + 3)
                val e4 = q(x + 4) - recon(x + 4)
                val e5 = q(x + 5) - recon(x + 5)
                val e6 = q(x + 6) - recon(x + 6)
                val e7 = q(x + 7) - recon(x + 7)
                d += ((e0 * e0 + e1 * e1) + (e2 * e2 + e3 * e3)) +
                  ((e4 * e4 + e5 * e5) + (e6 * e6 + e7 * e7))
                x += 8
              }
            } else {
              while (x < p && d <= bound) {
                val end = x + subDim
                while (x < end) {
                  val df = q(x) - recon(x); d += df * df; x += 1
                }
              }
            }
            if (!full) h.enqueue((d, id, cid))
            else {
              val (wd, wid, _) = h.head
              if (d < wd || (d == wd && id < wid)) {
                h.dequeue(); h.enqueue((d, id, cid))
              }
            }
            k += 1
          }
        }
      }
    }
    heaps
  }

  /** The q=1 per-partition coarse stage as a plain function: the shared
    * kernel over an InternalRow iterator, drained to three flat
    * primitive arrays (the task wire format — ship arrays, not ~500
    * boxed tuples). [[graft.core.ServingScan]]'s plan-free tasks run it;
    * the kernel is [[coarseCandidates]]' own, so a single query's heaps
    * match the batch form's at q=1.
    */
  def coarsePartition(it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
                      model: IndexModel, qp: Array[Float], probeSet: Set[Int],
                      prelimK: Int)
      : (Array[Double], Array[Long], Array[Int]) = {
    val c2q = probeSet.iterator.map(c => c -> Array(0)).toMap
    val heap = scanPartitionHeaps(it, model, Array(qp), c2q, prelimK)(0)
    val n = heap.size
    val ds = new Array[Double](n); val ids = new Array[Long](n)
    val cs = new Array[Int](n)
    var i = 0
    while (heap.nonEmpty) {
      val (dd, id, cid) = heap.dequeue()
      ds(i) = dd; ids(i) = id; cs(i) = cid; i += 1
    }
    (ds, ids, cs)
  }

  /** Exact driver-side merge of per-partition coarse results: global
    * (adc_dist, id) order, ≤ prelimK rows — the same cut
    * [[coarseCandidates]]' window takes per query.
    */
  def mergeCoarseParts(parts: Seq[(Array[Double], Array[Long], Array[Int])],
                       prelimK: Int): Array[(Long, Double, Int)] = {
    val merged = parts.iterator.flatMap { case (ds, ids, cs) =>
      Iterator.tabulate(ds.length)(i => (ds(i), ids(i), cs(i)))
    }.toArray
    java.util.Arrays.sort(merged,
      Ordering.by[(Double, Long, Int), (Double, Long)](e => (e._1, e._2)))
    merged.take(prelimK).map { case (d, id, cid) => (id, d, cid) }
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
