package graft

import scala.util.Random

import graft.core.Engine
import graft.index.IndexParams

/** Per-bucket compaction (round 11): a threshold compact rewrites ONLY the
  * cluster_buckets that hold deleted rows; untouched buckets stay — files,
  * names, mtimes — in the version dir that wrote them, tracked by the
  * catalog's per-bucket owner map, and vacuum refuses to sweep a version
  * that still owns buckets. At 100 TB this turns the compact from a
  * full-table rewrite into one ∝ touched buckets.
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

  /** (name, mtime, size) of every parquet file under a bucket dir of one
    * index version.
    */
  private def bucketFiles(version: Int, bucket: Int): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(
      s"${engine.root}/db/index/v$version/coded/cluster_bucket=$bucket")
    val fs = p.getFileSystem(engine.hadoopConf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).iterator
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.getName, st.getModificationTime, st.getLen))
      .toSeq.sortBy(_._1)
  }

  test("compact rewrites only the buckets holding deleted rows") {
    val v0 = engine.load("db").indexVersion
    assert(engine.load("db").codedOwners.isEmpty)

    // all deleted ids from ONE bucket: read the coded table's assignment
    val coded = spark.read
      .parquet(s"${engine.root}/db/index/v$v0/coded")
    val byBucket = coded.groupBy("cluster_bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(-_._2)
    assert(byBucket.length > 2, "fixture must span several buckets")
    val target = byBucket.head._1
    val victims = coded
      .filter(org.apache.spark.sql.functions.col("cluster_bucket") === target)
      .select("id").limit(100).collect().map(_.getLong(0)).toSeq
    assert(victims.size == 100)

    val untouched = byBucket.map(_._1).filter(_ != target)
    val before = untouched.map(b => b -> bucketFiles(v0, b)).toMap
    val preQ = mkQueries(6)
    val preResults = preQ.map { q =>
      engine.remove("db", Seq.empty) // no-op; keep shape symmetric
      results(q)
    }

    // soft-delete without triggering the threshold, then compact explicitly
    engine.remove("db", victims, compactionThreshold = 2.0)
    val pendingResults = preQ.map(results) // deletes visible via anti-join
    engine.compact("db")

    val doc = engine.load("db")
    assert(doc.indexVersion == v0 + 1)
    assert(doc.numPendingDeletes == 0L)
    // owner map: target bucket moved to v1, everything else stayed at v0
    val owners = graft.core.CodedStore.ownerVersions(doc)
    assert(owners(target) == v0 + 1)
    untouched.foreach(b => assert(owners(b) == v0, s"bucket $b must stay at v$v0"))

    // ONLY the touched bucket dir exists under the new version
    assert(bucketFiles(v0 + 1, target).nonEmpty)
    untouched.foreach(b =>
      assert(bucketFiles(v0 + 1, b).isEmpty, s"bucket $b must not be rewritten"))
    // untouched buckets keep their exact files (names, mtimes, sizes) in v0
    untouched.foreach(b => assert(bucketFiles(v0, b) == before(b)))

    // results: identical to the pending-delete (anti-join) view, and the
    // deleted ids are gone for good
    preQ.zipWithIndex.foreach { case (q, i) =>
      val r = results(q)
      assert(r == pendingResults(i), "compact must not change any result")
      assert(r.map(_._2).intersect(victims).isEmpty)
    }
    preResults // (materialized pre-delete baseline kept for debugging)
  }

  test("vacuum keeps owner versions alive; retrain releases them") {
    val doc = engine.load("db")
    val v0 = doc.indexVersion - 1
    // v0 still owns untouched buckets → not sweepable even at grace 0
    engine.vacuum("db", graceMillis = 0L)
    val fs = new org.apache.hadoop.fs.Path(engine.root)
      .getFileSystem(engine.hadoopConf)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"${engine.root}/db/index/v$v0")), "vacuum must not sweep a bucket owner")
    val q = mkQueries(1).head
    assert(results(q).nonEmpty)

    // post-compact appends route to each bucket's OWNER version dir
    val rnd = new Random(Seed + 9)
    engine.addLocal("db",
      Seq.fill(60)(Array.fill(D)(rnd.nextGaussian().toFloat)),
      Seq.tabulate(60)(i => s"""{"x":$i}"""))
    assert(results(q).nonEmpty)

    // a retrain consolidates ownership; the old owners become sweepable
    engine.train("db", params = Some(IndexParams(D, D, 4, omitOpq = true)),
      kmeansIters = 4, seed = Seed, minTrainRows = 1)
    assert(engine.load("db").codedOwners.isEmpty)
    assert(engine.vacuum("db", graceMillis = 0L) >= 2,
      "both previously-owned index versions must sweep after retrain")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${engine.root}/db/index/v$v0")))
    assert(results(q).nonEmpty)
  }
}
