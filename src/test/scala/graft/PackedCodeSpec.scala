package graft

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Engine.IndexModel
import graft.index.{PcaModel, PqModel}
import graft.operators.{BatchANN, PreparedANN}

/** The r15 packed-code read path (one BIGINT holding up to 8 PQ code
  * bytes, lowest subquantizer in the lowest byte) must be
  * bit-indistinguishable from today's `array<int>` layout everywhere
  * codes are consumed: the coarse ADC kernels (batch + single-chunked
  * faces) and the prepared-block fold. Writers don't emit the packed
  * layout yet — readers are self-describing on the column type
  * (BatchANN.isPackedCode), so this spec packs the same codes by hand
  * and asserts equality of every consumer. PLANS.md "Round-15
  * candidate: packed PQ code column" holds the design + the measured
  * 2.2× decode win.
  */
class PackedCodeSpec extends SparkSpec {

  private val m = 8
  private val subDim = 2
  private val p = m * subDim // 16
  private val nClusters = 6
  private val nRows = 240

  private val rnd = new Random(7)
  private val centroids = Array.fill(nClusters, p)(rnd.nextFloat())
  private val codebooks = Array.fill(m, 256, subDim)(rnd.nextFloat() - 0.5f)
  private val identityPca = PcaModel(
    Array.fill(p)(0.0), Array.tabulate(p, p)((i, j) => if (i == j) 1.0 else 0.0))
  private val model = IndexModel(identityPca, centroids, PqModel(m, subDim, codebooks))

  private val rows = (0 until nRows).map { i =>
    val cid = i % nClusters
    val code = Array.fill(m)(rnd.nextInt(256))
    val vec = Array.fill(p)(rnd.nextFloat())
    (i.toLong, cid, code, vec, s"""{"i":$i}""")
  }

  private def packWord(code: Array[Int]): Long =
    code.zipWithIndex.foldLeft(0L) { case (acc, (c, j)) => acc | (c.toLong << (8 * j)) }

  private lazy val dfArr = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cluster_id", IntegerType, nullable = false),
      StructField("code", ArrayType(IntegerType, containsNull = false), nullable = false),
      StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("metadata", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, cid, code, vec, meta) =>
        Row(id, cid, code.toSeq, vec.toSeq, meta)
      }, 4), schema)
  }

  private lazy val dfPacked = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cluster_id", IntegerType, nullable = false),
      StructField("code", LongType, nullable = false),
      StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("metadata", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, cid, code, vec, meta) =>
        Row(id, cid, packWord(code), vec.toSeq, meta)
      }, 4), schema)
  }

  test("layout detection is self-describing on the column type") {
    assert(!BatchANN.isPackedCode(dfArr))
    assert(BatchANN.isPackedCode(dfPacked))
  }

  test("coarseCandidates: packed scores bit-equal to array layout") {
    val bc = spark.sparkContext.broadcast(model)
    try {
      val queries = Array.tabulate(3)(qi =>
        qi.toLong -> Array.fill(p)(new Random(100 + qi).nextFloat()))
      val probes = Array(
        Array(0, 1, 2), Array(2, 3, 4, 5), Array(0, 5))
      def run(df: org.apache.spark.sql.DataFrame) =
        BatchANN.coarseCandidates(spark, df, bc, queries, probes, prelimK = 17)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .sortBy(t => (t._1, t._3, t._2))
      val a = run(dfArr).toSeq
      val b = run(dfPacked).toSeq
      assert(a.nonEmpty && a == b)
    } finally bc.destroy()
  }

  test("coarseSingleChunked: packed chunks merge bit-equal to array chunks") {
    val bc = spark.sparkContext.broadcast(model)
    try {
      val q = Array.fill(p)(new Random(55).nextFloat())
      val probes = Array(1, 3, 4)
      def run(df: org.apache.spark.sql.DataFrame) = {
        // two chunks splitting the probe list — exercises the per-chunk
        // layout detection inside runChunk
        val chunks = IndexedSeq(
          df.filter(col("cluster_id") === 1),
          df.filter(col("cluster_id").isin(3, 4)))
        BatchANN.coarseSingleChunked(spark, chunks, bc, q, probes, prelimK = 23).toSeq
      }
      val a = run(dfArr)
      val b = run(dfPacked)
      assert(a.nonEmpty && a == b)
    } finally bc.destroy()
  }

  test("buildBlocks/foldBlocks: packed blocks byte-identical to array blocks") {
    def blocks(df: org.apache.spark.sql.DataFrame, codeM: Int) =
      PreparedANN.buildBlocks(df, numParts = 3, codeM = codeM)
        .collect().flatten.toMap
    val a = blocks(dfArr, -1)
    val b = blocks(dfPacked, m)
    assert(a.keySet == b.keySet && a.nonEmpty)
    a.keySet.foreach { cid =>
      val (x, y) = (a(cid), b(cid))
      assert(x.ids.toSeq == y.ids.toSeq)
      assert(x.codes.toSeq == y.codes.toSeq)
      assert(x.vecs.toSeq == y.vecs.toSeq)
      assert(x.meta.toSeq == y.meta.toSeq)
    }
  }

  test("buildBlocks rejects a packed frame without the model's m") {
    intercept[IllegalArgumentException] {
      PreparedANN.buildBlocks(dfPacked, numParts = 2).collect()
    }
  }

  test("end-to-end: packed train serves bit-equal to array train " +
       "(query/queryHits/queryCatalyst, append, remove)") {
    import graft.core.Engine
    import graft.index.IndexParams

    val corpusRnd = new Random(42)
    val vecs = Seq.fill(1200)(Array.fill(16)(corpusRnd.nextFloat()))
    val metas = vecs.indices.map(i => s"""{"i":$i}""")
    def build(packed: Boolean): Engine = {
      val eng = new Engine(spark, tmpDir(s"graft-packed-$packed"))
      // queryHits below warms the auto-prepared handle; this spec's
      // catalyst() must stay the INDEPENDENT plan path (hits==catalyst
      // is one of its gates), so pin queryCatalyst pure
      eng.catalystWarmServe = false
      eng.packedCodesOnTrain = packed
      eng.create("db", vectorDimension = 16)
      eng.addLocal("db", vecs, metas)
      eng.train("db", params = Some(IndexParams(16, 16, 8)),
        kmeansIters = 3, minTrainRows = 1, seed = 7L)
      eng
    }
    val engA = build(packed = false) // array layout
    val engP = build(packed = true) // packed layout

    val docA = engA.load("db")
    val docP = engP.load("db")
    assert(docA.codedPacked == 0 && docP.codedPacked == 1)
    // the packed table really carries a BIGINT code column on disk
    assert(spark.read.parquet(s"${docP.indexPath(engP.root)}/coded")
      .schema("code").dataType == LongType)

    def hits(eng: Engine, q: Array[Float]) =
      eng.queryHits("db", q, preliminaryTopK = 60, finalTopK = 9)
        .map(h => (h.rank, h.id, h.metadata, h.cosineSimilarity)).toSeq
    def catalyst(eng: Engine, q: Array[Float]) =
      eng.queryCatalyst("db", q, 60, 9).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSeq

    val queries = Array.tabulate(5)(qi =>
      Array.fill(16)(new Random(900 + qi).nextFloat()))
    queries.foreach { q =>
      val a = hits(engA, q)
      assert(a.nonEmpty && a == hits(engP, q))
      assert(catalyst(engA, q) == catalyst(engP, q))
      assert(a.map(h => (h._1, h._2, h._4)) ==
        catalyst(engA, q).map(r => (r._1, r._2, r._4)))
    }

    // A6 append follows each TABLE's layout (knob deliberately flipped
    // the other way first, to prove the catalog flag governs)
    engA.packedCodesOnTrain = true
    engP.packedCodesOnTrain = false
    val extra = Seq.fill(40)(Array.fill(16)(corpusRnd.nextFloat()))
    engA.addLocal("db", extra, extra.indices.map(i => s"""{"x":$i}"""))
    engP.addLocal("db", extra, extra.indices.map(i => s"""{"x":$i}"""))
    // and removes stay layout-agnostic
    engA.remove("db", Seq(3L, 1203L))
    engP.remove("db", Seq(3L, 1203L))
    queries.foreach { q =>
      val a = hits(engA, q)
      assert(a.nonEmpty && a == hits(engP, q))
    }
  }
}
