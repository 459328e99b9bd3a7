package graft.core

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

/** `Engine.addLocal` validates, normalizes and assigns ids on the driver
  * and writes once; `Engine.add(DataFrame)` does the same in Spark jobs.
  * For one batch both must leave the same data table: the same ids, the
  * same files holding the same rows in the same order, bit-identical
  * vectors and metadata. A rejected local batch commits nothing, and an
  * untrained local add is one Spark job.
  */
class LocalAddSpec extends SparkSpec {

  private val D = 8
  private val inputSchema = StructType(Seq(
    StructField("vector", ArrayType(FloatType, containsNull = false)),
    StructField("metadata", StringType)))

  /** 10,500 rows (two write partitions), a zero vector and null metadata. */
  private val (vectors, metas) = {
    val rnd = new Random(31L)
    val vs = Array.tabulate(10500) { i =>
      if (i == 17) Array.fill(D)(0f)
      else Array.fill(D)((rnd.nextGaussian() * (1 + i % 5)).toFloat)
    }
    val ms = Array.tabulate(10500)(i => if (i % 11 == 0) null else s"""{"n":$i}""")
    (vs.toSeq, ms.toSeq)
  }

  private def dataFiles(e: Engine, db: String): Seq[Path] = {
    val dir = new Path(e.load(db).dataPath(e.root))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
  }

  /** Each data file's rows in file order, the files ordered by first id. */
  private def fileContents(e: Engine, db: String): Seq[Seq[(Long, Seq[Int], String)]] =
    dataFiles(e, db).map { p =>
      spark.read.schema(e.dataSchema).parquet(p.toString).collect().toSeq.map { r =>
        (r.getLong(0),
          r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits),
          r.getString(2))
      }
    }.sortBy(_.headOption.map(_._1).getOrElse(-1L))

  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("counted", "add")
      try body finally sc.clearJobGroup()
      // the listener bus is ordered: once the marker job's start arrives,
      // every job before it has been seen
      sc.setJobGroup("marker", "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      seen.asScala.count(_ == "counted")
    } finally sc.removeSparkListener(listener)
  }

  test("addLocal and add(DataFrame) leave the same data table") {
    val e = new Engine(spark, tmpDir("graft-local-add"))
    Seq("local", "frame").foreach(db => e.create(db, vectorDimension = D))
    // one earlier add on each, so ids start past 0
    e.addLocal("local", Seq(Array.fill(D)(1f)), Seq("first"))
    e.addLocal("frame", Seq(Array.fill(D)(1f)), Seq("first"))

    val local = e.addLocal("local", vectors, metas)
    val rows = vectors.zip(metas).map { case (v, m) => Row(v.toSeq, m) }
    val frame = e.add("frame", spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size / 5000)), inputSchema))
    assert(local == frame && local == (1L, 10500L))
    assert(e.load("local").maxId == e.load("frame").maxId)

    val a = fileContents(e, "local")
    val b = fileContents(e, "frame")
    assert(a.map(_.length) == b.map(_.length))
    // create's empty file, the first add's and the batch's two partitions
    assert(a.map(_.length) == Seq(0, 1, 5250, 5250), s"rows per file: ${a.map(_.length)}")
    assert(a == b, "stored rows differ between the local and the distributed add")
    // the zero vector stays zeros (no NaN)
    assert(a.flatten.find(_._1 == 18L).get._2.forall(_ == 0))
  }

  test("a rejected local batch commits nothing") {
    val e = new Engine(spark, tmpDir("graft-local-add-reject"))
    e.create("db", vectorDimension = D)
    e.addLocal("db", Seq.fill(3)(Array.fill(D)(0.5f)), Seq.fill(3)(null))
    val maxId = e.load("db").maxId
    val listing = dataFiles(e, "db")

    def unchanged(): Unit = {
      assert(e.load("db").maxId == maxId)
      assert(dataFiles(e, "db") == listing)
    }
    val mismatch = intercept[IllegalArgumentException] {
      e.addLocal("db", Seq(Array.fill(D)(0.5f), Array.fill(D + 1)(0.5f)), Seq(null, null))
    }
    assert(mismatch.getMessage.contains(s"dimension mismatch: expected $D, got ${D + 1}"))
    unchanged()
    intercept[IllegalArgumentException](e.addLocal("db", Seq.empty, Seq.empty))
    unchanged()
    // 3 rows fit the cap; 4 do not (4 · 8 · 4 · 3 = 384 bytes)
    e.flatAddMemoryGuardBytes = Some(300L)
    val guard = intercept[IllegalArgumentException] {
      e.addLocal("db", Seq(Array.fill(D)(0.5f)), Seq(null))
    }
    assert(guard.getMessage.contains("max memory usage"))
    unchanged()
  }

  test("an untrained addLocal runs one Spark job, one fewer than add(DataFrame)") {
    val e = new Engine(spark, tmpDir("graft-local-add-jobs"))
    Seq("local", "frame").foreach(db => e.create(db, vectorDimension = D))
    val batch = vectors.take(600)
    val batchMeta = metas.take(600)
    assert(jobsOf(e.addLocal("local", batch, batchMeta)) == 1)
    val rows = batch.zip(batchMeta).map { case (v, m) => Row(v.toSeq, m) }
    assert(jobsOf(e.add("frame",
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), inputSchema))) == 2)
  }
}
