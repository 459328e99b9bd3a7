package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import graft.core.Engine.IndexModel
import graft.index.{Pca, PqModel}
import graft.operators.{BatchANN, PreparedANN}

/** Pins the r18c ADC block-sum GROUPING numerically: for subDim == 8
  * every serving kernel must sum each subquantizer block as
  * ((s0+s1)+(s2+s3)) + ((s4+s5)+(s6+s7)) and add block partials in j
  * order — the exact grouping the DuckDB oracle replays
  * (TrainedFixture.adcDistExpr). The JVM suites otherwise compare the
  * kernels only to EACH OTHER, so a silent reversion of all of them to
  * the old sequential fold would pass sbt test and surface only at the
  * driver's DuckDB gate; this spec catches it in-JVM by asserting
  * against a hand-computed tree value on inputs where the two
  * groupings round DIFFERENTLY (1e16 absorbs a lone +1 but not a
  * pre-paired +2).
  */
class AdcGroupingSpec extends SparkSpec {

  private val D = 16
  private val M = 2
  // block 0 residual dfs: 1e8,1,1,1,0,0,0,0 → squares 1e16,1,1,1,…
  // sequential: ((1e16+1)+1)+1 = 1e16 (each +1 is absorbed)
  // tree:       (1e16+1)+(1+1) = 1e16+2 (representable: ulp = 2)
  private val qp = Array(1e8f, 1f, 1f, 1f, 0f, 0f, 0f, 0f,
    0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)

  private lazy val model: IndexModel = IndexModel(
    Pca.identity(D),
    centroids = Array(Array.fill(D)(0f)),
    pq = PqModel(M, D / M, Array.fill(M, 256, D / M)(0f)))

  private def treeExpected: Double = {
    val s = qp.map(x => x.toDouble * x.toDouble)
    def block(off: Int): Double =
      ((s(off) + s(off + 1)) + (s(off + 2) + s(off + 3))) +
        ((s(off + 4) + s(off + 5)) + (s(off + 6) + s(off + 7)))
    block(0) + block(8)
  }

  private def seqExpected: Double = qp.foldLeft(0.0) { (acc, x) =>
    acc + x.toDouble * x.toDouble
  }

  test("the fixture discriminates the groupings") {
    assert(treeExpected !== seqExpected)
    assert(treeExpected === 1e16 + 2)
    assert(seqExpected === 1e16)
  }

  test("PreparedANN.servePartition sums blocks in the tree grouping") {
    val blk = new PreparedANN.ClusterBlock(
      ids = Array(7L), codes = Array[Byte](0, 0),
      vecs = Array.fill(D)(0f), meta = Array("x"))
    val out = PreparedANN.servePartition(Map(0 -> blk), model,
      probes = Array(0), qp = qp, qn = Array.fill(D)(0f),
      prelimK = 1, deleted = Array.emptyLongArray)
    assert(out.length === 1)
    assert(out(0).adcDist === treeExpected)
  }

  test("BatchANN single-query fused branch sums blocks in the tree grouping") {
    val row = new GenericInternalRow(Array[Any](7L, 0,
      new GenericArrayData(Array(0, 0))))
    val (ds, ids, _) = BatchANN.coarsePartition(Iterator(row), model, qp,
      probeSet = Set(0), prelimK = 1)
    assert(ids.toSeq === Seq(7L))
    assert(ds(0) === treeExpected)
  }

  test("the shared kernel's vector and scalar forms sum blocks in the tree grouping") {
    assert(graft.index.AdcKernel.simdAvailable, "vector path inactive on this JVM")
    val blk = new PreparedANN.ClusterBlock(
      ids = Array(7L), codes = Array[Byte](0, 0),
      vecs = Array.fill(D)(0f), meta = Array("x"))
    val row = new GenericInternalRow(Array[Any](7L, 0,
      new GenericArrayData(Array(0, 0))))
    for (simd <- Seq(true, false)) {
      def kernel = new graft.index.AdcKernel(model.adcTables, qp, simd)
      assert(kernel.dist(Array[Byte](0, 0), 0, kernel.centroid(0),
        Double.MaxValue) === treeExpected, s"simd=$simd")
      val served = PreparedANN.serveWith(kernel, Array(Map(0 -> blk)),
        Array(0), Array.fill(D)(0f), 1, Array.emptyLongArray, null)
      assert(served.dists.toSeq === Seq(treeExpected), s"simd=$simd")
      val (ds, ids, _) = BatchANN.coarsePartitionWith(Iterator(row), kernel,
        probeSet = Set(0), prelimK = 1)
      assert(ids.toSeq === Seq(7L))
      assert(ds(0) === treeExpected, s"simd=$simd")
    }
  }

  // (the multi-query batch form now scores each probing query with the
  // same kernel; the name is kept from when it summed a shared
  // reconstruction)
  test("BatchANN multi-query reconstruction branch matches the tree grouping") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cluster_id", IntegerType, nullable = false),
      StructField("code", ArrayType(IntegerType, containsNull = false),
        nullable = false)))
    val coded = spark.createDataFrame(
      java.util.Arrays.asList(Row(7L, 0, Seq(0, 0))), schema)
    val bc = spark.sparkContext.broadcast(model)
    try {
      // two queries probing the same cluster → probing.length == 2 →
      // the shared-reconstruction branch
      val out = BatchANN.coarseCandidates(spark, coded, bc,
        queriesP = Array(0L -> qp, 1L -> qp),
        probes = Array(Array(0), Array(0)), prelimK = 1)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
      assert(out.keySet === Set(0L, 1L))
      assert(out(0L) === treeExpected)
      assert(out(1L) === treeExpected)
    } finally bc.unpersist(blocking = false)
  }
}
