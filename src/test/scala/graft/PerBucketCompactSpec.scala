package graft

import scala.util.Random

import org.apache.hadoop.fs.Path

import graft.core.Engine
import graft.index.IndexParams

/** Compaction on a multi-bucket coded table: a trained table lives in
  * exactly one index version dir, so a compact whose deletes all fall in
  * ONE bucket still rewrites every bucket, minus the deleted rows, into
  * the next version. The superseded version then sweeps like a data
  * version, appends land in the new dir, and a retrain sweeps cleanly.
  */
class PerBucketCompactSpec extends SparkSpec {

  private val D = 16
  private val N = 3000
  private val Seed = 23L

  private def mkCorpus(n: Int): (Seq[Array[Float]], Seq[String]) = {
    val rnd = new Random(Seed)
    val centers = Array.fill(12, D)(rnd.nextGaussian().toFloat)
    val vecs = Seq.tabulate(n) { i =>
      val c = centers(i % 12)
      Array.tabulate(D)(j => c(j) + 0.3f * rnd.nextGaussian().toFloat)
    }
    (vecs, Seq.tabulate(n)(i => s"""{"i":$i}"""))
  }

  private lazy val engine: Engine = {
    val e = new Engine(spark, tmpDir("graft-pbc")) {
      // force a multi-bucket layout on the small corpus
      override protected def chooseCodedBucketShift(n: Long, nlist: Int,
                                                    d: Int, m: Int): Int = 2
      // an add is visible to the very next routed query
      override protected def autoPreparedAddsRefreshMs: Long = 0L
    }
    val (v, m) = mkCorpus(N)
    e.create("db", vectorDimension = D)
    e.addLocal("db", v, m)
    e.train("db", params = Some(IndexParams(D, D, 4, omitOpq = true)),
      kmeansIters = 6, seed = Seed, minTrainRows = 1)
    e
  }

  private def results(q: Array[Float]): Seq[(Int, Long, String, Double)] =
    engine.query("db", q, preliminaryTopK = 200, finalTopK = 20).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2),
        math.rint(r.getDouble(3) * 1e6) / 1e6)).toSeq

  private def mkQueries(k: Int): Seq[Array[Float]] = {
    val rnd = new Random(Seed + 1)
    Seq.fill(k)(Array.fill(D)(rnd.nextGaussian().toFloat))
  }

  private def fs = new Path(engine.root).getFileSystem(engine.hadoopConf)

  private def indexDir(version: Int): Path =
    new Path(s"${engine.root}/db/index/v$version")

  /** The `cluster_bucket=` dir names under one index version's table. */
  private def bucketDirNames(version: Int): Set[String] = {
    val p = new Path(indexDir(version), "coded")
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("cluster_bucket=")).toSet
  }

  private def codedIds(version: Int): Set[Long] =
    spark.read.parquet(new Path(indexDir(version), "coded").toString)
      .select("id").collect().map(_.getLong(0)).toSet

  test("compact rewrites every bucket, minus the deletes, into v+1") {
    val v0 = engine.load("db").indexVersion

    // all deleted ids from ONE bucket: read the coded table's assignment
    val coded = spark.read
      .parquet(s"${engine.root}/db/index/v$v0/coded")
    val byBucket = coded.groupBy("cluster_bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(-_._2)
    assert(byBucket.length > 2, "fixture must span several buckets")
    val target = byBucket.head._1
    assert(byBucket.head._2 > 100, "the target bucket must keep rows")
    val victims = coded
      .filter(org.apache.spark.sql.functions.col("cluster_bucket") === target)
      .select("id").limit(100).collect().map(_.getLong(0)).toSeq
    assert(victims.size == 100)
    val bucketsBefore = bucketDirNames(v0)
    val idsBefore = codedIds(v0)

    // soft-delete without triggering the threshold, then compact explicitly
    val preQ = mkQueries(6)
    engine.remove("db", victims, compactionThreshold = 2.0)
    val pendingResults = preQ.map(results) // deletes visible via anti-join
    engine.compact("db")

    val doc = engine.load("db")
    assert(doc.indexVersion == v0 + 1)
    assert(doc.numPendingDeletes == 0L)
    // every bucket dir exists under the new version, holding every row
    // but the deleted ones
    assert(bucketsBefore.size == byBucket.length)
    assert(bucketDirNames(v0 + 1) == bucketsBefore)
    assert(codedIds(v0 + 1) == idsBefore -- victims)

    // results: identical to the pending-delete (anti-join) view, and the
    // deleted ids are gone for good
    preQ.zipWithIndex.foreach { case (q, i) =>
      val r = results(q)
      assert(r == pendingResults(i), "compact must not change any result")
      assert(r.map(_._2).intersect(victims).isEmpty)
    }
  }

  test("vacuum sweeps the old version; adds and a retrain stay clean") {
    val v1 = engine.load("db").indexVersion
    val v0 = v1 - 1
    // the compacted-away version holds nothing the table reads
    assert(engine.vacuum("db", graceMillis = 0L) >= 1)
    assert(!fs.exists(indexDir(v0)), s"vacuum must sweep index v$v0")
    assert(fs.exists(indexDir(v1)))
    val q = mkQueries(1).head
    assert(results(q).nonEmpty)

    // a post-compact append lands in the table's one version dir and is
    // served: each added vector finds itself first
    val rnd = new Random(Seed + 9)
    val added = Seq.fill(60)(Array.fill(D)(rnd.nextGaussian().toFloat))
    val maxBefore = engine.load("db").maxId
    engine.addLocal("db", added, Seq.tabulate(60)(i => s"""{"x":$i}"""))
    val addedIds = (maxBefore + 1 to maxBefore + 60).toSet
    assert(engine.load("db").indexVersion == v1)
    assert(addedIds.subsetOf(codedIds(v1)))
    added.zipWithIndex.take(5).foreach { case (v, i) =>
      assert(results(v).head._2 == maxBefore + 1 + i, s"added row $i not served")
    }

    // a retrain writes the next version and the compacted one sweeps
    engine.train("db", params = Some(IndexParams(D, D, 4, omitOpq = true)),
      kmeansIters = 4, seed = Seed, minTrainRows = 1)
    val v2 = engine.load("db").indexVersion
    assert(v2 == v1 + 1)
    assert(engine.vacuum("db", graceMillis = 0L) >= 1)
    assert(!fs.exists(indexDir(v1)))
    assert(fs.listStatus(new Path(s"${engine.root}/db/index"))
      .map(_.getPath.getName).toSeq == Seq(s"v$v2"))
    assert(results(q).nonEmpty)
  }
}
