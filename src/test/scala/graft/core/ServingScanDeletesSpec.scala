package graft.core

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.index.IndexParams

/** A trained single query on the plan surface serves pending soft-deletes
  * through the plan-free [[ServingScan]]: no deleted id comes back, the
  * coarse and fetch stages run as its own jobs (no Catalyst scan), and
  * the rows equal the batch path's at q=1 — whose coarse stage scans the
  * Catalyst chunk union (`probePushChunk = 4` ≪ nprobe) minus the deletes
  * anti-join — and the routed handle's. The 1 KB split floor makes every
  * coded file several byte-range tasks.
  */
class ServingScanDeletesSpec extends SparkSpec {

  private val D = 16
  private val Seed = 31L

  private lazy val qs: Seq[Array[Float]] = {
    val rnd = new Random(Seed + 1)
    Seq.fill(6)(Array.fill(D)(rnd.nextGaussian().toFloat))
  }

  private def rows(e: Engine, q: Array[Float]): Seq[Seq[Any]] =
    e.queryCatalyst("db", q, preliminaryTopK = 200, finalTopK = 20)
      .collect().toSeq.map(_.toSeq)

  // the victims: ids 1-3 plus each test query's top three before removal,
  // so the deletes sit exactly where the queries look
  private lazy val (engine, victims): (Engine, Set[Long]) = {
    val e = new Engine(spark, tmpDir("graft-sscan-deletes")) {
      override protected def chooseCodedBucketShift(n: Long, nlist: Int,
                                                    d: Int, m: Int): Int = 2
      override protected def probePushChunk: Int = 4
      override protected def servingScanMinSplitBytes: Long = 1L << 10
    }
    val rnd = new Random(Seed)
    val centers = Array.fill(12, D)(rnd.nextGaussian().toFloat)
    val vecs = Seq.tabulate(3000) { i =>
      val c = centers(i % 12)
      Array.tabulate(D)(j => c(j) + 0.3f * rnd.nextGaussian().toFloat)
    }
    e.create("db", vectorDimension = D)
    e.addLocal("db", vecs, Seq.tabulate(3000)(i => s"""{"i":$i}"""))
    e.train("db", params = Some(IndexParams(D, D, 4, omitOpq = true)),
      kmeansIters = 6, seed = Seed, minTrainRows = 1)
    val top = qs.flatMap(q => rows(e, q).take(3).map(_(1).asInstanceOf[Long]))
    val dead = (Seq(1L, 2L, 3L) ++ top).toSet
    e.remove("db", dead.toSeq)
    (e, dead)
  }

  test("the plan-free scan serves pending deletes") {
    val doc = engine.load("db")
    assert(doc.numPendingDeletes == victims.size, "fixture must hold pending deletes")
    assert(doc.nProbe > 4, "the batch reference must span multiple probe chunks")
    val model = engine.indexModel(doc)
    val epoch = engine.store.servingEpoch(doc)
    for (q <- qs) {
      val qp = model.pca.applyLocal(q)
      val probes = model.nearestClusters(qp, doc.nProbe)
      assert(ServingScan.planTasks(epoch, probes).exists(
        _.files.exists(fr => fr.len < fr.fileLen)), "no multi-range task")
      val cand = engine.servingScanCoarse(doc, qp, probes, 200)
      assert(cand.nonEmpty && !cand.exists(c => victims(c._1)),
        "a pending-deleted id entered the coarse candidates")
      assert(cand.toSeq == ServingScanCustomSpec.batchCoarse(
        engine, doc, qp, probes, 200).toSeq,
        "plan-free coarse diverged from the batch path's")
    }
    for (q <- qs) {
      val got = rows(engine, q)
      assert(got.length == 20)
      assert(!got.exists(r => victims(r(1).asInstanceOf[Long])),
        "a pending-deleted id was served")
      assert(got == ServingScanCustomSpec.batchRows(engine, q, 200, 20),
        "queryCatalyst diverged from queryBatchTrained at q=1")
      assert(got == engine.query("db", q, 200, 20).collect().toSeq.map(_.toSeq),
        "queryCatalyst diverged from the routed handle")
    }
  }

  test("with deletes pending, a single query runs only the plan-free scan's jobs") {
    val q = qs.head
    rows(engine, q) // warm: model, epoch and the deletes generation
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        seen.add((p.map(_.getProperty("spark.jobGroup.id")).orNull,
          p.map(_.getProperty("spark.sql.execution.id")).orNull))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("single-query", "queryCatalyst with deletes pending")
      val got = try rows(engine, q) finally sc.clearJobGroup()
      assert(!got.exists(r => victims(r(1).asInstanceOf[Long])))
      // the listener bus is ordered: once the marker job's start arrives,
      // every job of the query has been seen
      sc.setJobGroup("marker", "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.toArray.exists(_ == (("marker", null))) &&
             System.nanoTime() < deadline) Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      val jobs = seen.asScala.filter(_._1 == "single-query").toSeq
      assert(jobs.length == 2, s"expected the coarse and fetch jobs, saw $jobs")
      assert(jobs.forall(_._2 == null), s"a Catalyst job ran: $jobs")
    } finally sc.removeSparkListener(listener)
  }
}
