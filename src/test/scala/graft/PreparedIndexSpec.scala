package graft

import scala.util.Random

import graft.core.Engine

/** The prepared in-memory serving path (`Engine.prepareServing`) must be
  * indistinguishable from `Engine.query` — same rows, same ranks, same
  * doubles — across the handle's whole lifecycle: fresh, after removes
  * (delta-refresh), after adds (side-buffer delta-refresh), and
  * re-prepared.
  * (The DuckDB replay gate for the same property is the `prepared_knn`
  * oracle row.)
  */
class PreparedIndexSpec extends SparkSpec {

  private val D = 64
  private val N = 6000
  private val NumCenters = 40
  private val Seed = 7L
  private val PrelimK = 200
  private val FinalK = 25

  // the adds-refresh window of every handle the engine builds: 0 (refresh
  // on every drift) unless a test widens it
  @volatile private var refreshMs = 0L

  lazy val engine = new Engine(spark, tmpDir("graft-prep")) {
    override protected def autoPreparedAddsRefreshMs: Long = refreshMs
  }

  // an explicit part count builds a handle of its own
  private def ownHandle(): graft.core.PreparedIndex =
    engine.prepareServing("pdb", numParts = spark.sparkContext.defaultParallelism)

  private def mkCorpus(n: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new Random(seed)
    val centers = Array.fill(NumCenters, D)(rnd.nextGaussian().toFloat)
    Array.tabulate(n) { i =>
      val c = centers(i % NumCenters)
      Array.tabulate(D)(j => c(j) + 0.35f * rnd.nextGaussian().toFloat)
    }
  }

  private lazy val queries: Array[Array[Float]] = {
    val rnd = new Random(Seed + 7)
    val corpus = mkCorpus(N, Seed)
    Array.tabulate(8) { qi =>
      corpus((qi * 1357) % N).map(x => x + 0.1f * rnd.nextGaussian().toFloat)
    }
  }

  // ground truth = the pure Catalyst plan path (engine.query now routes
  // through an auto-prepared handle — comparing against it would compare
  // prepared vs prepared)
  private def regular(q: Array[Float]): Seq[(Int, Long, String, Double)] =
    engine.queryCatalyst("pdb", q, PrelimK, FinalK).collect().toSeq.map { r =>
      (r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3))
    }

  private def prepared(p: graft.core.PreparedIndex,
                       q: Array[Float]): Seq[(Int, Long, String, Double)] =
    p.query(q, PrelimK, FinalK).toSeq.map { h =>
      (h.rank, h.id, h.metadata, h.cosineSimilarity)
    }

  private var prep: graft.core.PreparedIndex = _

  test("prepare: build over a trained db") {
    engine.create("pdb")
    engine.addLocal("pdb", mkCorpus(N, Seed).toIndexedSeq,
      (0 until N).map(i => s"""{"doc":$i}"""))
    engine.train("pdb", kmeansIters = 6, seed = Seed, minTrainRows = 1)
    // window 0: refresh on every drift — the delta-refresh tests below
    // assert EXACT visibility of each mutation (the debounce property has
    // its own tests at the end)
    prep = ownHandle()
    assert(!prep.isStale)
  }

  test("prepared results are EXACTLY the regular path's (all queries)") {
    queries.foreach { q =>
      val exp = regular(q)
      val got = prepared(prep, q)
      assert(got == exp) // exact Double equality — same op sequence
    }
  }

  test("removes delta-refresh in place: still exact, not stale") {
    // remove ids that appear in query 0's current top-k so the refresh is
    // load-bearing, few enough that threshold compaction can't trigger
    val victims = regular(queries(0)).take(3).map(_._2)
    engine.remove("pdb", victims)
    assert(!prep.isStale, "removes must not invalidate the pinned blocks")
    queries.take(4).foreach { q =>
      val exp = regular(q)
      assert(!exp.exists(r => victims.contains(r._2)))
      assert(prepared(prep, q) == exp)
    }
  }

  test("adds delta-refresh into the side buffer: exact, NOT stale") {
    val rnd = new Random(Seed + 99)
    val fresh = Array.tabulate(50)(_ =>
      Array.tabulate(D)(_ => rnd.nextGaussian().toFloat))
    val (firstId, _) = engine.addLocal("pdb", fresh.toIndexedSeq,
      (0 until 50).map(i => s"""{"new":$i}"""))
    // a bounded add must NOT degrade the handle — the side buffer absorbs it
    assert(!prep.isStale,
      "adds within MaxPreparedSideRows must not flip isStale")
    queries.take(4).foreach { q =>
      assert(prepared(prep, q) == regular(q))
    }
    // the side buffer is LOAD-BEARING: querying a just-added vector must
    // surface its id at rank 1 — the pinned blocks alone (fenced at
    // prepare-time maxId) cannot supply it
    val got = prepared(prep, fresh(7))
    assert(got == regular(fresh(7)))
    assert(got.head._2 == firstId + 7,
      s"side buffer missed the appended row: got ${got.head}")
    // removing an appended row must delta-refresh it away from the side
    // scan too (deletes apply before the ADC heap in both scans)
    engine.remove("pdb", Seq(firstId + 7))
    val after = prepared(prep, fresh(7))
    assert(after == regular(fresh(7)))
    assert(!after.exists(_._2 == firstId + 7))
    assert(!prep.isStale)
  }

  test("re-prepare after churn serves the new shape in-memory again") {
    val fresh = engine.prepareServing("pdb")
    assert(!fresh.isStale)
    queries.foreach { q =>
      assert(prepared(fresh, q) == regular(q))
    }
    fresh.close()
  }

  test("default-shaped prepareServing SHARES the routing handle: one block set, " +
      "refcounted release") {
    // warm the engine-owned handle, then acquire it explicitly — the
    // same instance must come back (one pinned block set, not two: the
    // r14 35M eval measured the dual-pin thrash at 2.07 s/query)
    engine.query("pdb", queries(0), PrelimK, FinalK).collect()
    val a = engine.prepareServing("pdb")
    val b = engine.prepareServing("pdb")
    assert(a eq b, "default-shaped prepares must share one instance")
    // a caller's close releases ITS reference only: the other holder and
    // the engine's routed path keep serving from the same blocks
    a.close()
    queries.take(2).foreach { q => assert(prepared(b, q) == regular(q)) }
    b.close()
    queries.take(2).foreach { q =>
      val got = engine.query("pdb", q, PrelimK, FinalK).collect().toSeq.map { r =>
        (r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3))
      }
      assert(got == regular(q))
    }
    // an explicit part count builds its own handle (a different block
    // shape ⇒ cannot share the engine's)
    val own = ownHandle()
    assert(!(own eq b))
    own.close()
  }

  test("auto-routed engine.query is exactly the Catalyst path, across a retrain") {
    queries.foreach { q =>
      val got = engine.query("pdb", q, PrelimK, FinalK).collect().toSeq.map { r =>
        (r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3))
      }
      assert(got == regular(q))
    }
    // a version swap must rebuild the engine-owned handle transparently
    engine.train("pdb", kmeansIters = 3, seed = Seed + 1, minTrainRows = 1)
    queries.take(4).foreach { q =>
      val got = engine.query("pdb", q, PrelimK, FinalK).collect().toSeq.map { r =>
        (r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3))
      }
      assert(got == regular(q))
    }
  }

  test("adds delta-refresh is debounced: at most one refresh per window") {
    def withWindow(ms: Long): graft.core.PreparedIndex = {
      refreshMs = ms
      try ownHandle() finally refreshMs = 0L
    }
    val slow = withWindow(3600000L)
    val rnd = new Random(Seed + 123)
    val marker = Array.tabulate(D)(_ => rnd.nextGaussian().toFloat)
    val (mId, _) = engine.addLocal("pdb", Seq(marker), Seq("""{"m":1}"""))
    // first drift after prepare: the debounce clock is fresh → refreshes
    assert(slow.query(marker, PrelimK, FinalK).head.id == mId)
    val marker2 = Array.tabulate(D)(_ => rnd.nextGaussian().toFloat)
    val (m2Id, _) = engine.addLocal("pdb", Seq(marker2), Seq("""{"m":2}"""))
    // inside the (huge) window: NO second refresh job — the add is not yet
    // visible to the prepared scan (bounded staleness, class doc), while
    // the regular path serves it
    assert(!slow.query(marker2, PrelimK, FinalK).exists(_.id == m2Id),
      "a second refresh ran inside the debounce window")
    assert(regular(marker2).head._2 == m2Id)
    assert(!slow.isStale, "debounced adds are not staleness")
    slow.close()

    // with a short window the add becomes visible once the window passes
    val quick = withWindow(150L)
    val marker3 = Array.tabulate(D)(_ => rnd.nextGaussian().toFloat)
    val (m3Id, _) = engine.addLocal("pdb", Seq(marker3), Seq("""{"m":3}"""))
    assert(quick.query(marker3, PrelimK, FinalK).head.id == m3Id) // fresh clock
    val marker4 = Array.tabulate(D)(_ => rnd.nextGaussian().toFloat)
    val (m4Id, _) = engine.addLocal("pdb", Seq(marker4), Seq("""{"m":4}"""))
    val deadline = System.currentTimeMillis() + 30000L
    var seen = false
    while (!seen && System.currentTimeMillis() < deadline) {
      seen = quick.query(marker4, PrelimK, FinalK).exists(_.id == m4Id)
      if (!seen) Thread.sleep(25L)
    }
    assert(seen, "append never became visible after the debounce window")
    quick.close()
  }

  test("a swap landing mid-query never serves a superseded or torn state") {
    // identical data + identical train params/seed => retraining swaps the
    // version but reproduces the SAME model, so the correct result set is
    // a fixed constant — any deviation during the race means a query was
    // served from a half-swapped state (the post-job version re-check is
    // what reroutes those through fallback)
    engine.train("pdb", kmeansIters = 3, seed = Seed + 2, minTrainRows = 1)
    val probe = queries(0)
    val truth = regular(probe)
    val handle = engine.prepareServing("pdb")
    assert(handle.query(probe, PrelimK, FinalK).toSeq.map(h =>
      (h.rank, h.id, h.metadata, h.cosineSimilarity)) == truth)
    @volatile var trainsDone = false
    @volatile var failure: Throwable = null
    val trainer = new Thread(() => {
      try (1 to 3).foreach { _ =>
        engine.train("pdb", kmeansIters = 3, seed = Seed + 2, minTrainRows = 1)
      } catch { case t: Throwable => failure = t }
      finally trainsDone = true
    })
    val querier = new Thread(() => {
      try {
        while (!trainsDone) {
          val viaHandle = handle.query(probe, PrelimK, FinalK).toSeq.map(h =>
            (h.rank, h.id, h.metadata, h.cosineSimilarity))
          assert(viaHandle == truth, s"handle served a torn state: $viaHandle")
          val routed = engine.query("pdb", probe, PrelimK, FinalK).collect()
            .toSeq.map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3)))
          assert(routed == truth, s"routed query served a torn state: $routed")
        }
      } catch { case t: Throwable => failure = t }
    })
    trainer.start(); querier.start()
    trainer.join(300000); querier.join(300000)
    if (failure != null) throw failure
    handle.close()
  }

  test("auto-prepared handle releases with the cache entry and rebuilds on demand") {
    // removeFromCache must close the engine-owned handle (the serving
    // blocks share the model cache's budget story) — and the next routed
    // query must transparently rebuild it with identical results
    val probe = queries(1)
    val before = engine.query("pdb", probe, PrelimK, FinalK).collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    engine.removeFromCache("pdb")
    val after = engine.query("pdb", probe, PrelimK, FinalK).collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    assert(after == before)
    assert(after == regular(probe))
  }

  test("serving-doc cache: a same-driver remove is visible to the very next routed query") {
    // the entry doc read may be TTL-stale for cross-driver writes, but a
    // write through THIS engine invalidates — remove then query
    // back-to-back (far inside the 100 ms TTL) must not serve the victim
    val victims = engine.query("pdb", queries(2), PrelimK, FinalK)
      .collect().map(_.getLong(1)).take(2)
    engine.remove("pdb", victims)
    val after = engine.query("pdb", queries(2), PrelimK, FinalK)
      .collect().map(_.getLong(1))
    assert(victims.forall(v => !after.contains(v)),
      "removed ids served from a stale cached doc")
    assert(after.toSeq == engine.queryCatalyst("pdb", queries(2), PrelimK, FinalK)
      .collect().map(_.getLong(1)).toSeq, "routed/catalyst divergence after remove")
  }

  test("cross-driver swap inside the entry-cache TTL is caught by the fresh post-job re-check") {
    // a SECOND Engine on the same root (a different driver as far as the
    // serving-doc cache is concerned — its saves do NOT invalidate this
    // engine's cache) retrains between two routed queries issued
    // back-to-back well inside the 100 ms TTL: the first query primes the
    // stale entry doc, the second must still serve the fixed truth —
    // rerouted through fallback by the always-fresh post-job check, never
    // from the superseded pinned blocks
    val other = new graft.core.Engine(spark, engine.root)
    val probe = queries(3)
    val truth = regular(probe)
    (1 to 3).foreach { _ =>
      val warm = engine.query("pdb", probe, PrelimK, FinalK).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSeq
      assert(warm == truth)
      other.train("pdb", kmeansIters = 3, seed = Seed + 2, minTrainRows = 1)
      // immediately (well inside the TTL) — the entry doc is stale here
      val after = engine.query("pdb", probe, PrelimK, FinalK).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSeq
      assert(after == truth,
        "routed query served superseded blocks across a cross-driver swap")
    }
  }

  test("queryHits equals the DataFrame query, with and without a trained index") {
    val probe = queries(4)
    val viaDf = engine.query("pdb", probe, PrelimK, FinalK).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSeq
    val viaHits = engine.queryHits("pdb", probe, PrelimK, FinalK)
      .map(h => (h.rank, h.id, h.metadata, h.cosineSimilarity)).toSeq
    assert(viaHits == viaDf)
    // a predicate on `vector` cannot compile against (id, metadata), so
    // queryHits takes its collect-the-plan fallback, which must agree
    // with queryCatalyst
    import org.apache.spark.sql.functions.{col, size => asize}
    val onVector = asize(col("vector")) === D
    val viaPlan = engine.queryHits("pdb", probe, PrelimK, FinalK, Some(onVector))
      .map(h => (h.rank, h.id, h.metadata, h.cosineSimilarity)).toSeq
    assert(viaPlan.nonEmpty)
    assert(viaPlan == regularP(probe, onVector))
  }

  // ---- predicate-capable routed serving (round 13; r15 replaced the
  // geometric widening retry with ONE pushed round) ---------------------
  // Every branch of the routed filtered path must be bit-identical to
  // queryCatalyst with the same predicate: filled first round, pushed
  // under-fill round (predicate gates heap entry, top-prelimK MATCHING
  // rows by (adc, id)), terminal flat fallback, and the
  // unresolvable-predicate Catalyst reroute.

  private def regularP(q: Array[Float], pred: org.apache.spark.sql.Column)
      : Seq[(Int, Long, String, Double)] =
    engine.queryCatalyst("pdb", q, PrelimK, FinalK, Some(pred)).collect()
      .toSeq.map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3)))

  private def routedP(q: Array[Float], pred: org.apache.spark.sql.Column)
      : Seq[(Int, Long, String, Double)] =
    engine.query("pdb", q, PrelimK, FinalK, Some(pred)).collect()
      .toSeq.map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3)))

  test("filtered routed query: filled first round equals the Catalyst predicate path") {
    import org.apache.spark.sql.functions.{col, get_json_object}
    // ~half the corpus survives → the preliminary stage fills without a
    // second round; metadata eval exercises the compiled json path
    val pred = get_json_object(col("metadata"), "$.doc") % 2 === 0
    queries.take(4).foreach { q =>
      val exp = regularP(q, pred)
      val got = routedP(q, pred)
      assert(got == exp, s"filled-branch divergence for predicate query")
      assert(got.size == FinalK)
    }
  }

  test("filtered routed query: pushed under-fill round equals the Catalyst one") {
    import org.apache.spark.sql.functions.{col, get_json_object}
    // ~3% selectivity: the 200-candidate first round holds < FinalK
    // survivors, the ONE pushed round fills — both paths must return the
    // top-prelimK MATCHING rows by (adc, id) over the probed clusters,
    // i.e. identical rows (the prepared kernel gates heap entry with the
    // compiled predicate; Catalyst filters the covering chunk scans)
    val pred = get_json_object(col("metadata"), "$.doc") % 29 === 0
    queries.take(4).foreach { q =>
      val exp = regularP(q, pred)
      val got = routedP(q, pred)
      assert(got == exp, s"pushed-round divergence for predicate query")
    }
  }

  test("filtered routed query: terminal under-fill serves the exact flat scan") {
    import org.apache.spark.sql.functions.col
    // fewer live matches than FinalK exist in the WHOLE table → even the
    // pushed round can never fill → both paths land on the exact flat
    // filtered scan
    val pred = col("id") < 10L
    queries.take(2).foreach { q =>
      val exp = regularP(q, pred)
      val got = routedP(q, pred)
      assert(got == exp, s"flat-fallback divergence for predicate query")
      assert(got.size <= 10)
      assert(got.forall(_._2 < 10L))
    }
  }

  test("a predicate outside (id, metadata) reroutes to Catalyst, still exact") {
    import org.apache.spark.sql.functions.{col, size => asize}
    // references `vector` — compileMetaPredicate can't resolve it, the
    // routed path must decline and the Catalyst path (full candidate
    // schema) serve identical results
    val pred = asize(col("vector")) === D && col("id") >= 0L
    val q = queries(5)
    assert(routedP(q, pred) == regularP(q, pred))
  }

  test("filtered queryHits equals the filtered DataFrame query") {
    import org.apache.spark.sql.functions.{col, get_json_object}
    val pred = get_json_object(col("metadata"), "$.doc") % 3 === 0
    val q = queries(6)
    val viaDf = routedP(q, pred)
    val viaHits = engine.queryHits("pdb", q, PrelimK, FinalK, Some(pred))
      .map(h => (h.rank, h.id, h.metadata, h.cosineSimilarity)).toSeq
    assert(viaHits == viaDf)
  }

  test("filtered routed query sees same-driver removes immediately") {
    import org.apache.spark.sql.functions.{col, get_json_object}
    val pred = get_json_object(col("metadata"), "$.doc") % 2 === 1
    val q = queries(7)
    val before = routedP(q, pred)
    val victims = before.take(2).map(_._2)
    engine.remove("pdb", victims)
    val after = routedP(q, pred)
    assert(victims.forall(v => !after.exists(_._2 == v)),
      "filtered routed query served removed ids")
    assert(after == regularP(q, pred))
  }

  test("filtered BATCH equals the single filtered path on every branch") {
    import org.apache.spark.sql.functions.{col, get_json_object}
    import spark.implicits._
    // the same three predicate regimes as the single-path tests: filled
    // (~50%), under-fill → one shared pushed round (~3%), terminal flat
    // (id < 10). The batch path routes ALL under-filled queries through
    // one pushed round together (then the flat fallback together), so
    // every row must be bit-identical per query to the single path.
    val preds = Seq(
      get_json_object(col("metadata"), "$.doc") % 2 === 0,
      get_json_object(col("metadata"), "$.doc") % 29 === 0,
      col("id") < 10L)
    val qdf = queries.take(4).zipWithIndex
      .map { case (q, i) => (i.toLong, q.toSeq) }.toSeq.toDF("query_id", "qvec")
    for (pred <- preds) {
      val got = engine.queryBatchTrained("pdb", qdf, PrelimK, FinalK,
          Some(pred)).collect()
        .map(r => (r.getLong(0), r.getInt(4), r.getLong(1),
          if (r.isNullAt(2)) null else r.getString(2), r.getDouble(3)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
      queries.take(4).zipWithIndex.foreach { case (q, i) =>
        val exp = engine.query("pdb", q, PrelimK, FinalK, Some(pred))
          .collect()
          .map(r => (i.toLong, r.getInt(0), r.getLong(1),
            if (r.isNullAt(2)) null else r.getString(2), r.getDouble(3)))
          .toSeq
        assert(got.getOrElse(i.toLong, Seq.empty) == exp,
          s"batch/single divergence for query $i under $pred")
      }
    }
  }

  test("closed handle refuses queries") {
    prep.close()
    intercept[IllegalArgumentException] { prep.query(queries(0), PrelimK, FinalK) }
  }

  test("buildBlocks raises the partition count for small scans (partial-cluster blocks serve)") {
    // ADVICE r15: coalesce cannot RAISE a partition count, so a table
    // with fewer file splits than numParts silently pinned that few
    // serve tasks; small scans now take a round-robin repartition.
    // Partial-cluster blocks (one cluster spread over several
    // partitions) are semantically fine — each partial enters its
    // partition's heap and the global (adc, id) merge unions them —
    // which this test pins directly at the buildBlocks level.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = (0L until 64L)
      .map(i => ((i % 4).toInt, i, Seq(1, 2), Seq(0.1f, 0.2f), s"m$i"))
      .toDF("cluster_id", "id", "code", "vector", "metadata")
      .select(col("cluster_id"), col("id"),
        col("code").cast("array<int>").as("code"),
        col("vector").cast("array<float>").as("vector"), col("metadata"))
      .coalesce(1) // one split — the shape coalesce(numParts) can't widen
    val blocks = graft.operators.PreparedANN.buildBlocks(df, numParts = 8,
      Engine.PreparedLocalMaxBytes)
    assert(blocks.getNumPartitions == 8,
      "small scan must round-robin up to the requested serve parallelism")
    val maps = blocks.collect()
    // 4 clusters over 8 partitions: some cluster MUST span >1 partition
    val spans = maps.flatMap(_.keysIterator).groupBy(identity)
      .map { case (k, v) => k -> v.length }
    assert(spans.values.exists(_ > 1),
      s"expected a cluster split across partitions, got $spans")
    // no row lost or duplicated by the split
    val ids = maps.flatMap(_.valuesIterator.flatMap(_.ids)).sorted.toSeq
    assert(ids == (0L until 64L))
  }

  test("buildBlocks spreads a table whose largest row group is over a fair share") {
    // a split owns only the row groups whose midpoint it covers, so one
    // large row group cut into several splits fills one of them, and
    // coalescing those splits pinned every row in one partition — also
    // when small appended files add row groups of their own
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def write(dir: String, ids: Seq[Long], mode: String): Unit =
      ids.map(i => ((i % 4).toInt, i, Seq.fill(8)(i.toInt % 256),
          Seq.fill(16)(i.toFloat), s"m$i"))
        .toDF("cluster_id", "id", "code", "vector", "metadata")
        .select(col("cluster_id"), col("id"),
          col("code").cast("array<int>").as("code"),
          col("vector").cast("array<float>").as("vector"), col("metadata"))
        .coalesce(1).write.mode(mode).parquet(dir)
    def shuffles(r: org.apache.spark.rdd.RDD[_]): Boolean =
      r.dependencies.exists {
        case _: org.apache.spark.ShuffleDependency[_, _, _] => true
        case d => shuffles(d.rdd)
      }
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "512")
    try {
      val numParts = 3
      // (big group's rows, small one-group files appended)
      for ((big, small) <- Seq((64L, 0), (2L, 0), (60L, numParts - 1))) {
        val dir = tmpDir("graft-onegroup") + "/t"
        write(dir, 0L until big, "overwrite")
        (0 until small).foreach(k => write(dir, Seq(big + k), "append"))
        val df = spark.read.parquet(dir)
        val rows = big + small
        assert(df.inputFiles.length == 1 + small)
        assert(df.queryExecution.toRdd.getNumPartitions >= numParts,
          "fixture must span at least numParts splits")
        // job-path shape (no driver-local bound): rows spread
        val maps = graft.operators.PreparedANN.buildBlocks(df, numParts, 0L)
          .collect()
        val filled = maps.count(_.valuesIterator.exists(_.size > 0))
        assert(filled == math.min(numParts.toLong, rows), s"big=$big small=$small")
        assert(maps.flatMap(_.valuesIterator.flatMap(_.ids)).sorted.toSeq ==
          (0L until rows))
        // a block set served driver-locally is joined whole: no exchange
        val local = graft.operators.PreparedANN.buildBlocks(df, numParts,
          Engine.PreparedLocalMaxBytes)
        assert(!shuffles(local), s"big=$big small=$small")
        assert(local.collect().flatMap(_.valuesIterator.flatMap(_.ids)).sorted
          .toSeq == (0L until rows))
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** A small trained db (4 coded buckets) on its own engine, with the
    * auto-built handle's adds-refresh debounce set to `debounceMs`.
    */
  private def smallTrained(dir: String, debounceMs: Long): Engine = {
    val d = 12
    val e = new Engine(spark, tmpDir(dir)) {
      override protected def chooseCodedBucketShift(nn: Long, nlist: Int,
                                                    dd: Int, m: Int): Int = 2
      override protected def autoPreparedAddsRefreshMs: Long = debounceMs
    }
    val rnd = new Random(23L)
    val centers = Array.fill(10, d)(rnd.nextGaussian().toFloat)
    val vecs = Seq.tabulate(1600) { i =>
      val c = centers(i % 10)
      Array.tabulate(d)(j => c(j) + 0.3f * rnd.nextGaussian().toFloat)
    }
    e.create("db", vectorDimension = d)
    e.addLocal("db", vecs, Seq.tabulate(1600)(i => s"""{"i":$i}"""))
    e.train("db", params = Some(graft.index.IndexParams(d, d, 4, omitOpq = true)),
      kmeansIters = 3, seed = 23L, minTrainRows = 1)
    e
  }

  test("queryCatalyst never builds a handle (cold engine stays on the plan path)") {
    val e = smallTrained("graft-catalyst-cold", debounceMs = 100L)
    // no engine.query/queryHits has run: the catalyst call must neither
    // pay for nor trigger a prepared block build
    val rows = e.queryCatalyst("db", Array.fill(12)(0.1f), 120, 10).collect()
    assert(rows.nonEmpty)
    assert(!e.hasAutoPrepared("db"), "queryCatalyst built a prepared handle")
  }

  test("read-your-writes: an add inside the debounce window is visible immediately") {
    // a LONG debounce so the warm handle provably cannot have folded the add
    val e = smallTrained("graft-catalyst-ryw", debounceMs = 600000L)
    val rnd = new Random(25L)
    val q = Array.fill(12)(rnd.nextGaussian().toFloat)
    e.query("db", q, 120, 10).collect() // warm the handle
    // a marker row exactly at the query point dominates the top-1
    val marker = q.map(x => x * 10f)
    e.addLocal("db", Seq(marker), Seq("""{"marker":true}"""))
    val top = e.queryCatalyst("db", q, 120, 1).collect()
    assert(top.nonEmpty && top.head.getString(2) == """{"marker":true}""",
      "freshly-added row invisible through queryCatalyst - read-your-writes broken")
  }
}
