package graft

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.functions._

import graft.core.Engine
import graft.index.{Heuristics, IndexParams}

/** Trained-index path end-to-end — the port of the reference's golden eval
  * (tests/integration/test_full_eval.py:57-116): train → save → load →
  * two-stage query, gated on recall(50@500) > 0.97 against the exact flat
  * answer; plus the add/remove-after-train counter parity of
  * test_fastapi.py:102-152 (num_vectors=32000, coverage=0.9375) and a
  * repeat-train determinism check (same data + seed → same centroids).
  *
  * Fixture: FIQA-shaped synthetic clustered Gaussians (FIXTURES.md §1) —
  * 30k × 64-d so `sbt test` stays fast; ground truth computed by an
  * independent driver-side brute force, never by the engine under test.
  */
class TrainedPathSpec extends SparkSpec {

  private val D = 64
  private val N = 30000
  private val NumCenters = 60
  private val Seed = 42L

  lazy val engine = new Engine(spark, tmpDir("graft-trained"))

  /** Clustered Gaussian corpus — ANN structure without real embeddings. */
  private def mkCorpus(n: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new Random(seed)
    val centers = Array.fill(NumCenters, D)(rnd.nextGaussian().toFloat)
    Array.tabulate(n) { i =>
      val c = centers(i % NumCenters)
      Array.tabulate(D)(j => c(j) + 0.35f * rnd.nextGaussian().toFloat)
    }
  }

  private def normalize(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0) v else v.map(x => (x / n).toFloat)
  }

  /** Independent exact oracle: top-k ids by (dot desc, id asc) over the
    * stored (already-normalized) corpus.
    */
  private def exactTopK(corpus: Array[(Long, Array[Float])], q: Array[Float],
                        k: Int): Seq[Long] =
    corpus.map { case (id, v) =>
      var s = 0.0; var j = 0
      while (j < v.length) { s += v(j).toDouble * q(j).toDouble; j += 1 }
      (s, id)
    }.sortBy { case (s, id) => (-s, id) }.take(k).map(_._2).toSeq

  private lazy val queries: Array[Array[Float]] = {
    val rnd = new Random(Seed + 7)
    val corpus = mkCorpus(N, Seed)
    Array.tabulate(16) { qi =>
      val base = corpus((qi * 1357) % N)
      normalize(base.map(x => x + 0.1f * rnd.nextGaussian().toFloat))
    }
  }

  test("T9-T18: create, add 30k, coverage 0 -> train -> coverage 1") {
    engine.create("tdb")
    val (first, last) = engine.addLocal("tdb",
      mkCorpus(N, Seed).toIndexedSeq,
      (0 until N).map(i => s"""{"text":"doc-$i"}"""))
    assert(first == 0L && last == N - 1L)
    assert(engine.coverageRatio("tdb") == 0.0)

    val doc = engine.train("tdb", kmeansIters = 8, seed = Seed)
    assert(doc.isTrained)
    assert(doc.numClusters == graft.index.Heuristics.numClusters(N))
    assert(doc.nProbe == graft.index.Heuristics.nProbe(doc.numClusters))
    assert(doc.numVectorsTrainedOn == N && doc.maxTrainedId == N - 1L)
    assert(engine.coverageRatio("tdb") == 1.0)
  }

  test("Q2/Q4/Q5: trained recall(50@500) > 0.97 vs exact, result invariants") {
    val stored = engine.data("tdb").select("id", "vector").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    var recallSum = 0.0
    queries.foreach { q =>
      val gt = exactTopK(stored, q, 50).toSet
      val res = engine.query("tdb", q, preliminaryTopK = 500, finalTopK = 50).collect()
      assert(res.length == 50)
      val ids = res.map(_.getLong(1))
      assert(ids.distinct.length == 50, "result ids must be unique")
      assert(res.map(_.getInt(0)).toSeq == (1 to 50), "ranks must be 1..k")
      val sims = res.map(_.getDouble(3)).toSeq
      assert(sims == sims.sorted.reverse, "similarity must be descending")
      assert(sims.forall(s => s <= 1.0 + 1e-6 && s >= -1.0 - 1e-6))
      recallSum += ids.count(gt.contains).toDouble / 50.0
    }
    val recall = recallSum / queries.length
    info(f"trained recall(50@500) = $recall%.4f")
    assert(recall > 0.97, f"recall $recall%.4f below the 0.97 gate")
    assert(recall <= 1.0)
  }

  test("S11/S2: a fresh engine loads the index from disk and matches") {
    val fresh = new Engine(spark, engine.root)
    val a = fresh.query("tdb", queries(0), 500, 20).collect().map(_.getLong(1)).toSeq
    val b = engine.query("tdb", queries(0), 500, 20).collect().map(_.getLong(1)).toSeq
    assert(a == b)
  }

  test("A6/M2: add 2000 after train -> exact counters (test_fastapi.py:149-152)") {
    val rnd = new Random(Seed + 99)
    val extra = Array.tabulate(2000)(i =>
      Array.tabulate(D)(j => rnd.nextGaussian().toFloat))
    // one distinctive direction so the incremental-index query is decisive
    val marker = Array.tabulate(D)(j => if (j < 2) 10f else 0.001f * j)
    extra(1999) = marker
    val (first, last) = engine.addLocal("tdb", extra.toIndexedSeq,
      (0 until 2000).map(i => s"""{"new":$i}"""))
    assert(first == N.toLong && last == N + 1999L)
    val info1 = engine.info("tdb")
    assert(info1("num_vectors") == N + 2000L)
    assert(info1("num_new_vectors") == 2000L)
    assert(engine.coverageRatio("tdb") == N.toDouble / (N + 2000)) // 0.9375
    // the post-train row must be findable through the trained two-stage path
    val res = engine.query("tdb", marker, 500, 10).collect()
    assert(res.head.getLong(1) == N + 1999L)
    assert(math.abs(res.head.getDouble(3) - 1.0) < 1e-5)
  }

  test("D2-D5: remove trained+new ids -> counter split, queries exclude") {
    val trainedIds = (0L until 500L).toSeq
    val newIds = (N.toLong until N + 100L).toSeq
    val deleted = engine.remove("tdb", trainedIds ++ newIds)
    assert(deleted == 600L)
    val doc = engine.load("tdb")
    assert(doc.numTrainedVectorsRemoved == 500L)
    assert(doc.numNewVectors == 1900L)
    assert(engine.count("tdb") == N + 2000L - 600L)
    assert(engine.coverageRatio("tdb") ==
      (N - 500).toDouble / (N + 1900)) // (trained - removedTrained)/(trained + new)
    val res = engine.query("tdb", queries(0), 500, 50).collect().map(_.getLong(1))
    assert(!res.exists(id => id < 500L || (id >= N && id < N + 100L)))
  }

  test("T11-T14: two-level clustering trains and clears the recall gate") {
    val eng2 = new Engine(spark, tmpDir("graft-2lvl"))
    eng2.create("tl")
    val corpus = mkCorpus(8000, Seed + 3)
    eng2.addLocal("tl", corpus.toIndexedSeq,
      (0 until 8000).map(i => s"""{"i":$i}"""))
    val doc = eng2.train("tl", useTwoLevelClustering = Some(true),
      kmeansIters = 6, seed = Seed)
    assert(doc.isTrained)
    // centroid table holds exactly nlist rows, deterministic order
    val cents = spark.read.parquet(s"${doc.indexPath(eng2.root)}/centroids")
    assert(cents.count() == doc.numClusters.toLong)

    val stored = eng2.data("tl").select("id", "vector").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val rnd = new Random(Seed + 11)
    var recallSum = 0.0
    val qs = Array.tabulate(8) { qi =>
      normalize(corpus((qi * 911) % 8000).map(x => x + 0.1f * rnd.nextGaussian().toFloat))
    }
    qs.foreach { q =>
      val gt = exactTopK(stored, q, 50).toSet
      val ids = eng2.query("tl", q, 500, 50).collect().map(_.getLong(1))
      recallSum += ids.count(gt.contains).toDouble / 50.0
    }
    val recall = recallSum / qs.length
    info(f"two-level recall(50@500) = $recall%.4f")
    assert(recall > 0.97, f"two-level recall $recall%.4f below the 0.97 gate")
  }

  test("batched trained query equals per-query two-stage results") {
    import spark.implicits._
    val qdf = queries.take(5).zipWithIndex
      .map { case (q, i) => (i.toLong, q.toSeq) }.toSeq
      .toDF("query_id", "qvec")
    // the rerank stage scores with the codegen dot — no Scala UDF anywhere
    // in the batched plan (round-4 finding: rerank went through a per-row
    // UDF with a boxed Map lookup)
    val plan = engine.queryBatchTrained("tdb", qdf, 500, 20)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"batched trained plan contains a UDF:\n$plan")
    val batched = engine.queryBatchTrained("tdb", qdf, 500, 20).collect()
      .map(r => (r.getLong(0), r.getInt(4), r.getLong(1),
        math.round(r.getDouble(3) * 1e9)))
      .sortBy(t => (t._1, t._2))
    val singles = queries.take(5).zipWithIndex.flatMap { case (q, i) =>
      engine.query("tdb", q, 500, 20).collect()
        .map(r => (i.toLong, r.getInt(0), r.getLong(1),
          math.round(r.getDouble(3) * 1e9)))
    }.sortBy(t => (t._1, t._2))
    assert(batched.toSeq == singles.toSeq)
  }

  test("D4: deletes are soft until compaction; compact preserves results") {
    val doc0 = engine.load("tdb")
    assert(doc0.numPendingDeletes == 600L) // from the previous remove batch
    val before = engine.query("tdb", queries(2), 500, 30).collect()
      .map(r => (r.getLong(1), math.round(r.getDouble(3) * 1e9)))
    val liveCount = engine.count("tdb")
    val doc = engine.compact("tdb")
    assert(doc.numPendingDeletes == 0L)
    assert(doc.dataVersion == doc0.dataVersion + 1)
    assert(doc.indexVersion == doc0.indexVersion + 1)
    // physical row count now equals the live count; results unchanged
    assert(spark.read.parquet(doc.dataPath(engine.root)).count() == liveCount)
    assert(engine.count("tdb") == liveCount)
    val after = engine.query("tdb", queries(2), 500, 30).collect()
      .map(r => (r.getLong(1), math.round(r.getDouble(3) * 1e9)))
    assert(before.toSeq == after.toSeq)
    assert(engine.compact("tdb").numPendingDeletes == 0L) // idempotent no-op
    // vacuum drops the superseded version dirs; current state still serves
    val swept = engine.vacuum("tdb")
    assert(swept >= 2, s"expected stale data+index versions, swept $swept")
    assert(engine.query("tdb", queries(2), 500, 5).collect().length == 5)
    assert(engine.vacuum("tdb") == 0)
  }

  test("metadata predicate on the trained path post-filters candidates") {
    import org.apache.spark.sql.functions._
    // metadata is {"text":"doc-<i>"} for trained rows; filter to a suffix class
    val pred = get_json_object(col("metadata"), "$.text").endsWith("7")
    val res = engine.query("tdb", queries(1), 500, 20, predicate = Some(pred))
      .collect()
    assert(res.nonEmpty && res.length <= 20)
    assert(res.forall(_.getString(2).stripSuffix("\"}").endsWith("7")))
    // ranks stay contiguous after filtering
    assert(res.map(_.getInt(0)).toSeq == (1 to res.length))
  }

  test("filtered-ANN under-fill guard: selective predicate fills finalTopK or goes exact") {
    import org.apache.spark.sql.functions._
    // live metadata values: {"text":"doc-<i>"} (trained) or {"new":<i>}.
    // ~1/10-selective predicate, tight prelim: first probe round yields far
    // fewer matches than finalTopK → guard widens and fills to 50
    val pred10 = get_json_object(col("metadata"), "$.text").endsWith("3")
    val widened = engine.query("tdb", queries(1), preliminaryTopK = 60,
      finalTopK = 50, predicate = Some(pred10)).collect()
    assert(widened.length == 50,
      s"guard must fill finalTopK on a 10%-selective predicate, got ${widened.length}")
    assert(widened.forall(_.getString(2).stripSuffix("\"}").endsWith("3")))
    assert(widened.map(_.getInt(0)).toSeq == (1 to 50))

    // predicate matching fewer live rows than finalTopK (doc-<i>993, 30
    // trained ids minus deletions): even max widening can't fill → exact
    // flat fallback → result must EQUAL the brute-force filtered oracle
    val predRare = get_json_object(col("metadata"), "$.text").endsWith("993")
    val res = engine.query("tdb", queries(1), preliminaryTopK = 100,
      finalTopK = 50, predicate = Some(predRare)).collect()
    val qn = normalize(queries(1))
    val oracle = engine.data("tdb")
      .filter(predRare).select("id", "vector").collect()
      .map { r =>
        val v = r.getSeq[Float](1)
        var s = 0.0; var j = 0
        while (j < v.length) { s += v(j).toDouble * qn(j).toDouble; j += 1 }
        (r.getLong(0), s)
      }
      .sortBy { case (id, s) => (-s, id) }.take(50)
    assert(res.length == oracle.length && res.length < 50,
      s"rare predicate: expected ${oracle.length} (< 50) rows, got ${res.length}")
    assert(res.map(_.getLong(1)).toSeq == oracle.map(_._1).toSeq,
      "flat fallback must equal the exact filtered oracle")
  }

  test("coded-table append compaction: small-add burst keeps file count bounded") {
    val eng = new Engine(spark, tmpDir("graft-codedc"))
    eng.create("cc", vectorDimension = 16)
    val rnd = new Random(5L)
    def vecs(n: Int): Seq[Array[Float]] =
      Seq.fill(n)(Array.fill(16)(rnd.nextGaussian().toFloat))
    eng.addLocal("cc", vecs(600), (0 until 600).map(i => s"$i"))
    val doc0 = eng.train("cc",
      params = Some(IndexParams(16, 16, 4, omitOpq = true)),
      kmeansIters = 4, seed = 1L, minTrainRows = 1)
    assert(doc0.isTrained)
    def files(): Int = {
      val dir = java.nio.file.Paths.get(eng.load("cc").indexPath(eng.root), "coded")
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    val bound = graft.core.CodedStore.CodedFilesPerCluster * doc0.numClusters
    // burst of tiny adds: each lays down one file-set per touched cluster
    (0 until 15).foreach { b =>
      eng.addLocal("cc", vecs(10), (0 until 10).map(i => s"b$b-$i"))
    }
    val docAfter = eng.load("cc")
    assert(docAfter.indexVersion > doc0.indexVersion,
      "the burst must have triggered at least one coded-table compaction")
    assert(files() <= bound,
      s"file count ${files()} exceeds the $bound bound after compaction")
    // results survive: every added row remains findable through the index
    assert(eng.count("cc") == 750L)
    val probe = eng.data("cc").filter(org.apache.spark.sql.functions.col("id") === 749L)
      .head().getSeq[Float](1).toArray
    val top = eng.query("cc", probe, preliminaryTopK = 200, finalTopK = 1).collect()
    assert(top.head.getLong(1) == 749L, s"post-compaction query missed: ${top.head}")
  }

  test("maintenance sweep: one pass trains every due db (scheduler verb)") {
    val eng = new Engine(spark, tmpDir("graft-sweep"))
    // two dbs above the 25k initial-training cutoff, one tiny db not due
    for (db <- Seq("due1", "due2")) {
      eng.create(db)
      eng.addLocal(db, mkCorpus(Heuristics.NumVectorTrainingCutoff, Seed + db.length)
        .toIndexedSeq,
        (0 until Heuristics.NumVectorTrainingCutoff).map(_ => "{}"))
    }
    eng.create("tiny")
    eng.addLocal("tiny", Seq(Array.fill(8)(1.0f)), Seq("{}"))
    assert(eng.listDatabases() == Seq("due1", "due2", "tiny"))
    val results = eng.maintenanceSweep(kmeansIters = 3)
    val byDb = results.map(r => r.db -> r).toMap
    assert(byDb("due1").trained && byDb("due2").trained,
      s"both due dbs must train in one sweep: $results")
    assert(!byDb("tiny").trained)
    assert(eng.load("due1").isTrained && eng.load("due2").isTrained)
    assert(!eng.load("tiny").isTrained)
    // second sweep: nothing due anymore (coverage 1.0)
    assert(eng.maintenanceSweep(kmeansIters = 3).forall(!_.trained))
  }

  test("M7: index LRU evicts under a zero budget and reloads on demand") {
    engine.query("tdb", queries(0), 500, 5).collect() // populate cache
    engine.updateMaxMemoryUsage(0L) // evict everything
    // next query must transparently reload the model from IndexStore
    val res = engine.query("tdb", queries(0), 500, 5).collect()
    assert(res.length == 5)
    engine.updateMaxMemoryUsage(Engine.DefaultMaxMemoryUsage)
  }

  test("M3/M4: auto-train trigger wiring") {
    // trained db with coverage 0.92 and n >= cutoff: no retrain due
    assert(!engine.maybeAutoTrain("tdb"))
    // small flat db below the 25k cutoff: no initial train due
    val eng3 = new Engine(spark, tmpDir("graft-auto"))
    eng3.create("small")
    eng3.addLocal("small", Seq(Array.fill(8)(1.0f)), Seq("{}"))
    assert(!eng3.maybeAutoTrain("small"))
    assert(!eng3.load("small").isTrained)
  }

  test("concurrent queries on one engine are safe (test_fastapi_threading port)") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futures = (0 until 6).map { i =>
      Future {
        engine.query("tdb", queries(i % 3), 500, 10)
          .collect().map(_.getLong(1)).toSeq
      }
    }
    val results = Await.result(Future.sequence(futures), 5.minutes)
    assert(results.forall(_.length == 10))
    // the same query issued from two threads gives identical results
    assert(results(0) == results(3) && results(1) == results(4))
  }

  test("T9 determinism: repeat train on identical data gives identical centroids") {
    val eng2 = new Engine(spark, tmpDir("graft-det"))
    eng2.create("det")
    eng2.addLocal("det", mkCorpus(6000, Seed + 1).toIndexedSeq,
      (0 until 6000).map(_ => "{}"))
    def centroidsOf(): Map[Int, Seq[Float]] = {
      val doc = eng2.train("det", kmeansIters = 5, seed = Seed)
      spark.read.parquet(s"${doc.indexPath(eng2.root)}/centroids").collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    }
    val c1 = centroidsOf()
    val c2 = centroidsOf()
    assert(c1.keySet == c2.keySet)
    val maxDiff = c1.keys.map { k =>
      c1(k).zip(c2(k)).map { case (a, b) => math.abs(a - b) }.max
    }.max
    assert(maxDiff < 1e-5f, s"repeat-train centroid drift $maxDiff")
  }
}
