package graft

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.core.{CodedStore, Engine}
import graft.index.IndexParams

/** Bucketed coded-table layout: `2^shift` consecutive clusters share one
  * `cluster_bucket` hive dir, rows sorted by `cluster_id` within each
  * file, so the file count tracks data bytes rather than nlist.
  *
  * The invariant under test: the bucket shape is INVISIBLE to every
  * result. A shift-2 engine (four clusters per bucket) and a shift-0
  * engine (one cluster per bucket) trained on identical data with the
  * same seed produce bit-identical query results through train,
  * post-train appends, and delete+compact — only the directory shape
  * differs.
  */
class CodedLayoutSpec extends SparkSpec {

  private val D = 16
  private val N = 3000
  private val Seed = 11L

  private def mkCorpus(n: Int): (Seq[Array[Float]], Seq[String]) = {
    val rnd = new Random(Seed)
    val centers = Array.fill(12, D)(rnd.nextGaussian().toFloat)
    val vecs = Seq.tabulate(n) { i =>
      val c = centers(i % 12)
      Array.tabulate(D)(j => c(j) + 0.3f * rnd.nextGaussian().toFloat)
    }
    (vecs, Seq.tabulate(n)(i => s"""{"i":$i}"""))
  }

  private def mkQueries(k: Int): Seq[Array[Float]] = {
    val rnd = new Random(Seed + 1)
    Seq.fill(k)(Array.fill(D)(rnd.nextGaussian().toFloat))
  }

  /** (rank, id, metadata, 6dp sim) rows of a query — the full result
    * surface, so any layout-induced divergence (dropped probe bucket,
    * wrong row-group pruning, lost append) fails loudly.
    */
  private def results(eng: Engine, db: String, q: Array[Float]): Seq[(Int, Long, String, Double)] =
    eng.queryCatalyst(db, q, preliminaryTopK = 200, finalTopK = 20).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2),
        math.rint(r.getDouble(3) * 1e6) / 1e6)).toSeq

  private def hiveDirs(eng: Engine, db: String, prefix: String): Seq[String] = {
    val dir = java.nio.file.Paths.get(eng.load(db).indexPath(eng.root), "coded")
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(prefix)).toSeq
    finally s.close()
  }

  private def parquetFiles(eng: Engine, db: String): Int = {
    val dir = java.nio.file.Paths.get(eng.load(db).indexPath(eng.root), "coded")
    val s = java.nio.file.Files.walk(dir)
    try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  // ------------------------------------------------------------ sizing math

  test("sizing: tiny corpus collapses to one bucket") {
    val shift = CodedStore.bucketShift(500L, 743, 64, 32)
    assert(CodedStore.bucketCount(743, shift) == 1)
  }

  test("sizing: the 35M x 64-d scale geometry lands near the 256 MB file target") {
    val shift = CodedStore.bucketShift(35000000L, 91008, 64, 32)
    val buckets = CodedStore.bucketCount(91008, shift)
    // ~12.9 GB estimate / 256 MB target → tens of buckets: few enough
    // that a coarse pass (which touches ~every bucket — probed clusters
    // spread uniformly) opens tens of files, not hundreds (the r14
    // serving-floor finding), yet ~4 orders of magnitude fewer dirs than
    // nlist and still row-group-splittable for analytic parallelism
    assert(buckets >= 16 && buckets <= 128, s"got $buckets buckets")
  }

  test("sizing: huge rows-per-cluster keeps shift 0 (per-cluster dirs already right-sized)") {
    assert(CodedStore.bucketShift(1000000000L, 100, 768, 64) == 0)
  }

  test("sizing: bucket-count ceiling bounds dir count at any corpus size") {
    val shift = CodedStore.bucketShift(10000000000L, 200000, 768, 64)
    assert(CodedStore.bucketCount(200000, shift) <= CodedStore.MaxCodedBuckets)
  }

  // ------------------------------------- layout-invisibility differential

  private lazy val (corpusV, corpusM) = mkCorpus(N)

  /** Reference engine with shift 0: every bucket holds exactly one
    * cluster — the finest directory shape the layout has.
    */
  private lazy val perCluster: Engine = {
    val e = new Engine(spark, tmpDir("graft-coded-shift0")) {
      override protected def chooseCodedBucketShift(n: Long, nlist: Int,
                                                    d: Int, m: Int): Int = 0
    }
    e.create("db", vectorDimension = D)
    e.addLocal("db", corpusV, corpusM)
    e.train("db", params = Some(IndexParams(D, D, 4, omitOpq = true)),
      kmeansIters = 6, seed = Seed, minTrainRows = 1)
    e
  }

  /** Bucketed engine: shift 2 forced so the small corpus still spreads
    * over many cluster_bucket dirs (the production rule would collapse
    * 3000 rows into one bucket).
    */
  private lazy val bucketed: Engine = {
    val e = new Engine(spark, tmpDir("graft-coded-bucket")) {
      override protected def chooseCodedBucketShift(n: Long, nlist: Int,
                                                    d: Int, m: Int): Int = 2
    }
    e.create("db", vectorDimension = D)
    e.addLocal("db", corpusV, corpusM)
    e.train("db", params = Some(IndexParams(D, D, 4, omitOpq = true)),
      kmeansIters = 6, seed = Seed, minTrainRows = 1)
    e
  }

  /** Bucketed engine whose pruned scan is forced through the CHUNKED
    * probe-push union (chunk 4 ≪ nprobe): many disjoint In-branches,
    * each small enough for parquet page pruning.
    */
  private lazy val chunked: Engine = {
    val e = new Engine(spark, tmpDir("graft-coded-chunk")) {
      override protected def chooseCodedBucketShift(n: Long, nlist: Int,
                                                    d: Int, m: Int): Int = 2
      override protected def probePushChunk: Int = 4
    }
    e.create("db", vectorDimension = D)
    e.addLocal("db", corpusV, corpusM)
    e.train("db", params = Some(IndexParams(D, D, 4, omitOpq = true)),
      kmeansIters = 6, seed = Seed, minTrainRows = 1)
    e
  }

  /** Engine whose grouped coded write is forced to one group PER BUCKET
    * (threshold 1 byte → groups = bucket count): the maximal split of
    * the low-scratch train-time write (ADVICE r15 — the grouped path
    * had no layout gate).
    */
  private lazy val grouped: Engine = {
    val e = new Engine(spark, tmpDir("graft-coded-grouped")) {
      override protected def chooseCodedBucketShift(n: Long, nlist: Int,
                                                    d: Int, m: Int): Int = 2
      override protected def codedShuffleGroupBytes: Long = 1L
    }
    e.create("db", vectorDimension = D)
    e.addLocal("db", corpusV, corpusM)
    e.train("db", params = Some(IndexParams(D, D, 4, omitOpq = true)),
      kmeansIters = 6, seed = Seed, minTrainRows = 1)
    e
  }

  test("grouped coded write (groups > 1) lays down the one-shot write's exact layout") {
    val dirsB = hiveDirs(bucketed, "db", "cluster_bucket=").sorted
    val dirsG = hiveDirs(grouped, "db", "cluster_bucket=").sorted
    assert(dirsG.nonEmpty && dirsG.size > 1,
      "fixture must spread over multiple buckets for the groups to bite")
    assert(dirsG == dirsB, "bucket dir set differs from the one-shot write")
    assert(parquetFiles(grouped, "db") == parquetFiles(bucketed, "db"),
      "file count differs from the one-shot write")
    // per-bucket row ORDER identical (each bucket written by exactly one
    // group, same bucket partition count, same sortWithinPartitions)
    def bucketRows(e: Engine, dirName: String): Seq[(Int, Long)] = {
      val p = java.nio.file.Paths.get(
        e.load("db").indexPath(e.root), "coded", dirName)
      spark.read.parquet(p.toString).select("cluster_id", "id").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
    }
    dirsB.foreach { dn =>
      assert(bucketRows(grouped, dn) == bucketRows(bucketed, dn),
        s"row order diverged in $dn")
    }
    // and the result surface is bit-identical
    mkQueries(4).foreach { q =>
      assert(results(grouped, "db", q) == results(bucketed, "db", q))
    }
  }

  test("chunked probe-push union is bit-identical to the one-cluster-per-bucket scan") {
    assert(chunked.load("db").nProbe > 4,
      "fixture must span multiple probe chunks for this test to bite")
    mkQueries(8).foreach { q =>
      assert(results(chunked, "db", q) == results(perCluster, "db", q))
    }
  }

  test("the probe In-filter reaches parquet on the bucketed layout") {
    import spark.implicits._
    val qdf = Seq((0L, mkQueries(1).head.toSeq)).toDF("query_id", "qvec")
    val plan = bucketed.queryBatchTrained("db", qdf, 50, 10)
      .queryExecution.executedPlan.toString
    // data-filter push: page-level pruning inside a bucket's
    // cluster_id-sorted file hangs off exactly this. The r15 per-bucket
    // candidate fetch may collapse a single-cluster branch's In to
    // EqualTo — either form is the pushed probe filter.
    assert(plan.contains("PushedFilters") &&
      (plan.contains("In(cluster_id") || plan.contains("EqualTo(cluster_id")),
      s"probe filter not pushed to parquet:\n${plan.take(3000)}")
    // the candidate ids push too (the fetch reads ∝ candidates)
    assert(plan.contains("In(id"),
      s"candidate id-filter not pushed to parquet:\n${plan.take(3000)}")
    // partition-filter push: bucket-dir pruning
    assert(plan.contains("cluster_bucket"),
      "bucket partition filter missing from the pruned scan")
  }

  test("coded files carry fine-grained pages (the read-precision knob lands on disk)") {
    // shift 10 collapses the corpus into ONE bucket file big enough to
    // have to split into many 512-row pages
    val one = new Engine(spark, tmpDir("graft-coded-pages")) {
      override protected def chooseCodedBucketShift(n: Long, nlist: Int,
                                                    d: Int, m: Int): Int = 10
    }
    one.create("db", vectorDimension = D)
    one.addLocal("db", corpusV, corpusM)
    one.train("db", params = Some(IndexParams(D, D, 4, omitOpq = true)),
      kmeansIters = 6, seed = Seed, minTrainRows = 1)
    val codedDir = java.nio.file.Paths.get(
      one.load("db").indexPath(one.root), "coded")
    val file = {
      val s = java.nio.file.Files.walk(codedDir)
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toString),
      spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val block = r.getFooter.getBlocks.get(0)
      val cidCol = block.getColumns.asScala
        .find(_.getPath.toDotString == "cluster_id").get
      val oi = r.readOffsetIndex(cidCol)
      assert(oi != null, "cluster_id column must carry an offset index")
      val rows = block.getRowCount
      val pages = oi.getPageCount
      // 512-row pages: a file of R rows must split into >= R/512 pages.
      // If parquet.page.row.count.limit didn't propagate through the
      // writer, default 20k-row pages make this fail for any file
      // bigger than ~1024 rows.
      assert(rows > 1024, s"fixture file too small to assert paging ($rows rows)")
      assert(pages >= rows / 512,
        s"$pages pages for $rows rows - expected >= ${rows / 512} " +
          "(512-row page limit did not reach the parquet writer)")
    } finally r.close()
  }

  test("disk shape: more cluster_bucket dirs at shift 0 than 2, no cluster_id dirs") {
    val pdoc = perCluster.load("db")
    val bdoc = bucketed.load("db")
    assert(pdoc.codedBucketShift == 0 && bdoc.codedBucketShift == 2)
    assert(pdoc.numClusters == bdoc.numClusters,
      "same data + seed must give the same nlist on both engines")
    val clusterDirs = hiveDirs(perCluster, "db", "cluster_bucket=")
    val bucketDirs = hiveDirs(bucketed, "db", "cluster_bucket=")
    assert(clusterDirs.size > bucketDirs.size,
      s"shift 0: ${clusterDirs.size} dirs, shift 2: ${bucketDirs.size}")
    assert(clusterDirs.size <= pdoc.numClusters)
    assert(hiveDirs(perCluster, "db", "cluster_id=").isEmpty)
    assert(hiveDirs(bucketed, "db", "cluster_id=").isEmpty)
    // multi-bucket for real: shift 2 over nlist clusters
    val expected = CodedStore.bucketCount(bdoc.numClusters, 2)
    assert(bucketDirs.size > 1 && bucketDirs.size <= expected,
      s"got ${bucketDirs.size} bucket dirs for nlist ${bdoc.numClusters}")
  }

  test("trained queries are bit-identical across layouts") {
    mkQueries(8).foreach { q =>
      assert(results(bucketed, "db", q) == results(perCluster, "db", q))
    }
  }

  test("post-train appends land in the bucketed layout and stay identical") {
    val rnd = new Random(Seed + 2)
    val extraV = Seq.fill(120)(Array.fill(D)(rnd.nextGaussian().toFloat))
    val extraM = Seq.tabulate(120)(i => s"""{"x":$i}""")
    perCluster.addLocal("db", extraV, extraM)
    bucketed.addLocal("db", extraV, extraM)
    assert(bucketed.count("db") == perCluster.count("db"))
    mkQueries(5).foreach { q =>
      assert(results(bucketed, "db", q) == results(perCluster, "db", q))
    }
  }

  test("delete + compact rewrites preserve the layout and the results") {
    val ids = (0L until N.toLong by 7L).toSeq
    perCluster.remove("db", ids, compactionThreshold = 0.01)
    bucketed.remove("db", ids, compactionThreshold = 0.01)
    assert(perCluster.load("db").numPendingDeletes == 0L,
      "threshold 0.01 must have forced a physical compaction")
    assert(bucketed.load("db").numPendingDeletes == 0L)
    // compaction rewrote into a NEW version dir in the SAME layout
    assert(hiveDirs(bucketed, "db", "cluster_bucket=").nonEmpty)
    assert(hiveDirs(perCluster, "db", "cluster_bucket=").nonEmpty)
    assert(hiveDirs(perCluster, "db", "cluster_id=").isEmpty)
    mkQueries(5).foreach { q =>
      assert(results(bucketed, "db", q) == results(perCluster, "db", q))
    }
  }

  test("a fresh engine loads the bucketed layout from the catalog and matches") {
    val fresh = new Engine(spark, bucketed.root)
    assert(fresh.load("db").codedBucketShift == 2)
    val q = mkQueries(1).head
    assert(results(fresh, "db", q) == results(bucketed, "db", q))
  }

  test("bucketed file count tracks buckets, not clusters") {
    // after train + appends + compaction the bin-pack bound applies per
    // bucket: far fewer files than one dir per cluster would hold
    val bdoc = bucketed.load("db")
    val units = CodedStore.bucketCount(bdoc)
    assert(parquetFiles(bucketed, "db") <= CodedStore.CodedFilesPerCluster * units)
    assert(units < bdoc.numClusters)
  }

  test("chunk/full-scan cutover is relative to nlist") {
    // expose the protected threshold through a probe subclass — the
    // decision table is the contract (a fixed 4096 cap chose the
    // full-scan branch at the 100M heuristic geometry, reading ~33x
    // the bytes a chunked page-pruned union needs)
    val probe = new Engine(spark, tmpDir("graft-cutover")) {
      def cutoverAt(nlist: Int): Int = maxChunkedProbePush(nlist)
    }
    // 35M geometry (nlist 91,008, nprobe 3,561): chunked, as shipped
    assert(probe.cutoverAt(91008) == 11376 && 3561 <= 11376)
    // 100M heuristic ceiling (nlist 200,000, nprobe 6,000): the union
    // width cap (32 x 500-probe chunks) binds — and still admits 6,000
    assert(probe.cutoverAt(200000) == 16000 && 6000 <= 16000)
    // a 16-query batch union at the 35M geometry (~40k distinct probes)
    // takes the single bucket-pruned scan: the probes cover far too many
    // clusters for page pruning to pay for 80 scan subtrees
    assert(40000 > probe.cutoverAt(91008))
    // tiny tables keep the pushed-In plan shape regardless of nlist/8
    assert(probe.cutoverAt(800) == 512)
    // SMALL-BUT-NONTRIVIAL geometries (the r10 change moved these from
    // the old fixed 4096 ceiling onto the 512 floor — intentional): at
    // nlist 2k-8k, nlist/8 < 512 so the floor binds; a probe list past
    // it (e.g. nlist 3000, nprobe 600) takes the single bucket-pruned
    // scan with a row-level filter — correct by the test below, and the
    // right plan: 600/3000 probes leave few prunable page gaps anyway
    assert(probe.cutoverAt(2048) == 512)
    assert(probe.cutoverAt(3000) == 512)
    assert(probe.cutoverAt(8192) == 1024)
  }

  test("the row-filter branch (probes past the cutover) is bit-identical too") {
    // force the cutover to 0 so EVERY query takes the single-scan
    // row-filter branch the mid-size geometries now land on
    val rowFilter = new Engine(spark, bucketed.root) {
      override protected def maxChunkedProbePush(nlist: Int): Int = 0
    }
    mkQueries(6).foreach { q =>
      // queryCatalyst: the routed path would serve from pinned blocks and
      // never exercise the row-filter plan branch under test
      val a = rowFilter.queryCatalyst("db", q, preliminaryTopK = 200, finalTopK = 20)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2),
          math.rint(r.getDouble(3) * 1e6) / 1e6)).toSeq
      assert(a == results(bucketed, "db", q),
        "row-filter branch diverged from the chunk-pushed plan")
    }
  }

  test("a negative layout shift fails the train and commits nothing") {
    // there is no layout below shift 0 any more: a sizing seam that asks
    // for one must fail loudly before the swap, leaving the db untrained
    val neg = new Engine(spark, tmpDir("graft-coded-negative")) {
      override protected def chooseCodedBucketShift(n: Long, nlist: Int,
                                                    d: Int, m: Int): Int = -1
    }
    neg.create("db", vectorDimension = D)
    neg.addLocal("db", corpusV, corpusM)
    val e = intercept[IllegalStateException](
      neg.train("db", params = Some(IndexParams(D, D, 4, omitOpq = true)),
        kmeansIters = 2, seed = Seed, minTrainRows = 1))
    assert(e.getMessage.contains("shift -1"), e.getMessage)
    assert(!neg.load("db").isTrained)
    assert(neg.trainingStatus("db") == "failed")
    assert(neg.query("db", mkQueries(1).head, finalTopK = 5).count() == 5L)
  }
}
