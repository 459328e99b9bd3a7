package graft.core

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.index.IndexParams

/** A subsample-strategy train fits its models on one collected sample:
  * between the pinned snapshot and the fitted models it runs at most two
  * Spark jobs (the row count and the one sample pass), where the
  * per-sample Spark passes ran one job per sample and per k-means step.
  * Both paths train byte-equal models.
  */
class TrainFitJobsSpec extends SparkSpec {

  private val D = 16
  private val Seed = 41L

  /** A 3,000-row db in three adds; `local = false` forces the per-sample
    * Spark passes through the budget seam.
    */
  private def engine(tag: String, local: Boolean): Engine = {
    val e = new Engine(spark, tmpDir(s"graft-fit-jobs-$tag")) {
      override protected def localFitBudgetBytes(maxMemoryUsage: Long): Long =
        if (local) super.localFitBudgetBytes(maxMemoryUsage) else 0L
    }
    val rnd = new Random(Seed)
    val centers = Array.fill(12, D)(rnd.nextGaussian().toFloat)
    e.create("db", vectorDimension = D)
    (0 until 3).foreach { b =>
      e.addLocal("db", Seq.tabulate(1000) { i =>
        val c = centers((b * 1000 + i) % 12)
        Array.tabulate(D)(j => c(j) + 0.3f * rnd.nextGaussian().toFloat)
      }, Seq.fill(1000)(null))
    }
    e
  }

  /** Trains `e`'s db and returns the job groups of the fit phase's jobs. */
  private def trainCountingFitJobs(e: Engine): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    sc.addSparkListener(listener)
    try {
      e.afterFitSeam = () => sc.setJobGroup("after-fit", "coded write and swap")
      try e.train("db", params = Some(IndexParams(8, 8, 4)),
        useTwoLevelClustering = Some(false), kmeansIters = 4, seed = Seed,
        minTrainRows = 1,
        onSnapshot = () => sc.setJobGroup("fit", "count and model fit"))
      finally sc.clearJobGroup()
      // the listener bus is ordered: once the marker job's start arrives,
      // every job of the train has been seen
      sc.setJobGroup("marker", "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      seen.asScala.filter(_ == "fit").toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("a subsample-strategy train's fit phase runs the count and one sample pass") {
    val local = engine("local", local = true)
    val distributed = engine("distributed", local = false)
    val localJobs = trainCountingFitJobs(local)
    val distributedJobs = trainCountingFitJobs(distributed)
    assert(localJobs.nonEmpty && localJobs.length <= 2,
      s"expected the count and the sample pass, saw ${localJobs.length} jobs")
    assert(distributedJobs.length > 2,
      s"the per-sample passes ran only ${distributedJobs.length} jobs")

    val a = local.indexModel(local.load("db"))
    val b = distributed.indexModel(distributed.load("db"))
    assert(java.util.Arrays.equals(a.pca.mean, b.pca.mean) &&
      a.pca.components.indices.forall(i =>
        java.util.Arrays.equals(a.pca.components(i), b.pca.components(i))),
      "PCA differs")
    assert(a.centroids.length == b.centroids.length && a.centroids.indices.forall(c =>
      java.util.Arrays.equals(a.centroids(c), b.centroids(c))), "centroids differ")
    assert((0 until a.pq.m).forall(j => a.pq.codebooks(j).indices.forall(c =>
      java.util.Arrays.equals(a.pq.codebooks(j)(c), b.pq.codebooks(j)(c)))),
      "PQ codebooks differ")
  }
}
