package graft.core

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.index.IndexParams

/** The prepared handle's two forms (r18): when the pinned blocks fit
  * [[Engine.PreparedLocalMaxBytes]], the handle is built into a driver
  * copy and serves run the same kernel in the caller thread, one heap
  * over every part — no Spark job; above it the blocks stay cached on the
  * executors and each serve is one job. Hits must be BIT-equal between
  * the forms, including with pending deletes and a fresh adds side buffer
  * in play.
  */
class LocalServeSpec extends SparkSpec {

  private val D = 16

  // the engine's driver-local bound; 0 builds the job form
  @volatile private var localBound = Engine.PreparedLocalMaxBytes

  private def build(dir: String): Engine = {
    val e = new Engine(spark, tmpDir(dir)) {
      override protected def chooseCodedBucketShift(nn: Long, nlist: Int,
                                                    d: Int, m: Int): Int = 2
      override protected def autoPreparedAddsRefreshMs: Long = 0L
      override protected def preparedLocalMaxBytes: Long = localBound
    }
    val rnd = new Random(13L)
    val centers = Array.fill(10, D)(rnd.nextGaussian().toFloat)
    val vecs = Seq.tabulate(2400) { i =>
      val c = centers(i % 10)
      Array.tabulate(D)(j => c(j) + 0.3f * rnd.nextGaussian().toFloat)
    }
    e.create("db", vectorDimension = D)
    e.addLocal("db", vecs, Seq.tabulate(2400)(i => s"""{"i":$i}"""))
    e.train("db", params = Some(IndexParams(D, D, 4, omitOpq = true)),
      kmeansIters = 4, seed = 13L, minTrainRows = 1)
    e
  }

  /** `prepareServing` with an explicit part count (a handle of its own)
    * under the given driver-local bound.
    */
  private def prepare(eng: Engine, bound: Long): PreparedIndex = {
    localBound = bound
    try eng.prepareServing("db", numParts = 8)
    finally localBound = Engine.PreparedLocalMaxBytes
  }

  test("driver-local serve is bit-equal to the job shapes (plain + filtered + deletes/adds)") {
    val eng = build("graft-local-serve")
    eng.remove("db", Seq(2L, 77L))
    val rnd = new Random(37L)
    eng.addLocal("db", Seq.fill(20)(Array.fill(D)(rnd.nextGaussian().toFloat)),
      Seq.tabulate(20)(i => s"""{"y":$i}"""))
    // this corpus is far under the local bound, so the default = local
    val local = prepare(eng, Engine.PreparedLocalMaxBytes)
    val job = prepare(eng, 0L)
    try {
      import org.apache.spark.sql.functions._
      val pred = get_json_object(col("metadata"), "$.i").cast("long") % 2 === 0
      val evalP = eng.compileMetaPredicate(pred).get
      val qs = Array.fill(5)(Array.fill(D)(rnd.nextGaussian().toFloat))
      def run(prep: PreparedIndex): Seq[Seq[Any]] = qs.toSeq.flatMap { q =>
        val doc = eng.load("db")
        (prep.queryWith(doc, q, 200, 20) ++
          prep.queryFilteredWith(doc, q, 200, 10, pred, evalP)).toSeq
          .map(h => Seq(h.rank, h.id, h.metadata, h.cosineSimilarity))
      }
      val fromLocal = run(local)
      assert(fromLocal == run(job), "driver-local serve diverged from the job shape")
      assert(fromLocal.nonEmpty)
    } finally { local.close(); job.close() }
  }

  test("a driver-local handle leaves no persisted RDD and its first query runs no job") {
    val eng = build("graft-local-form")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var marker = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull ==
            "marker") marker = true
        else jobs.incrementAndGet()
    }
    // the listener bus is ordered: once the marker job's start arrives,
    // every job before it has been counted
    def settle(): Int = {
      marker = false
      sc.setJobGroup("marker", "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!marker && System.nanoTime() < deadline) Thread.sleep(20)
      assert(marker, "listener barrier never arrived")
      jobs.getAndSet(0)
    }
    val q = Array.tabulate(D)(j => (j % 3).toFloat - 1f)
    val before = sc.getPersistentRDDs.keySet
    val local = prepare(eng, Engine.PreparedLocalMaxBytes)
    sc.addSparkListener(listener)
    try {
      assert(sc.getPersistentRDDs.keySet.subsetOf(before),
        "the driver-local handle kept its blocks persisted")
      settle()
      assert(local.query(q, 200, 20).nonEmpty)
      assert(settle() == 0, "the driver-local handle's first query ran a Spark job")
      // the job form keeps its blocks cached on the executors and serves
      // each query as a job over them
      val job = prepare(eng, 0L)
      try {
        assert((sc.getPersistentRDDs.keySet -- before).size == 1,
          "the job-form handle did not persist its blocks")
        settle()
        assert(job.query(q, 200, 20).toSeq == local.query(q, 200, 20).toSeq)
        assert(settle() >= 1, "the job-form handle served without a job")
      } finally job.close()
      assert(sc.getPersistentRDDs.keySet.subsetOf(before),
        "closing the job-form handle left its blocks persisted")
    } finally { sc.removeSparkListener(listener); local.close() }
  }
}
