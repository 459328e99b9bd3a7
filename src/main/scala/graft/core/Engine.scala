package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.{Catalog, CatalogDoc}
import graft.functions.VectorFunctions._
import graft.index._

/** The engine facade — Spark-native re-expression of the reference's
  * `minDB` class + FastAPI service verbs (minDB mindb.py:42-572,
  * api/fastapi.py): named databases of `(id, vector, metadata)` with an
  * optional PCA→IVF→PQ index, two-stage ANN query (compressed coarse
  * search then exact rerank — mindb.py:368-442), sequential id assignment,
  * delete with trained/new counter bookkeeping, and coverage-ratio-driven
  * retraining.
  *
  * Architectural translation (SURVEY §1.3/§4): LMDB row-KV → Parquet
  * columnar snapshots; Faiss index file → centroid/codebook/PCA DataFrames
  * + a PQ-coded covering table whose on-disk layout only [[CodedStore]]
  * knows; locks/queues/dual-writes → immutable versioned tables with an
  * atomic catalog pointer swap.
  */
class Engine(val spark: SparkSession, val root: String) {
  import Engine._

  /** The catalog/maintenance layer resolves every path through the Hadoop
    * [[org.apache.hadoop.fs.FileSystem]] for `root`'s scheme — the engine
    * root can be `file:`, `hdfs:`, or `s3a:` and the catalog json, the
    * atomic pointer swap, version sweeping, and the bin-packing trigger
    * all work there (HadoopRootSpec runs the full lifecycle against an
    * explicit `file:`-scheme root). Public so callers/specs can share it.
    */
  implicit val hadoopConf: org.apache.hadoop.conf.Configuration =
    spark.sparkContext.hadoopConfiguration

  private def fsFor(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(hadoopConf)

  /** The coded table. The protected seams below are handed over as
    * functions, so a spec subclass overriding them steers the store.
    */
  private[core] val store = new CodedStore(spark, root, deletes,
    chooseCodedBucketShift, () => codedShuffleGroupBytes, () => probePushChunk,
    maxChunkedProbePush, () => servingScanMinSplitBytes)

  /** One executor-side broadcast of the index artifacts per (db, version),
    * reused by every query against that version — the serving path never
    * ships anything whose size depends on nprobe or q per query (the
    * round-4 scale-killer: per-query ADC LUT broadcasts of nprobe·m·256
    * doubles ≈ 400 MB at the reference's nlist=200k heuristic scale).
    * Stale versions are unpersisted (not destroyed — in-flight queries
    * planned against them may still re-fetch lazily). Bounded by the SAME
    * budget as [[indexCache]]: its eviction hook drops the matching
    * broadcast, so a cold db releases its driver-side model copy too.
    */
  private val modelBcCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int), org.apache.spark.broadcast.Broadcast[IndexModel]]

  /** M7 — LRU over loaded index artifacts, bounded by their actual driver
    * footprint (reference cache/cache.py:5-102; the M8 estimator backs the
    * info endpoint, MemoryModel.scala). Evicting a model also unpersists
    * its broadcast — the two caches share one memory budget.
    */
  private val indexCache = new LruCache[(String, Int), IndexModel](
    Engine.DefaultMaxMemoryUsage, Engine.modelBytes,
    onEvict = (k, _) => {
      modelBcCache.remove(k).foreach(_.unpersist(false))
      store.evict(k)
      // a cold db releases its auto-routed serving blocks too (same
      // budget story as the model broadcast)
      autoPrepared.get(k._1).filter(_.pinned.indexVersion == k._2)
        .foreach { p => autoPrepared.remove(k._1, p); p.close() }
    })
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Serving handles owned by [[query]]'s prepared auto-routing, one per
    * db; rebuilt when the catalog doc shows a moved version and released
    * with the model cache entry / on drop. Plan-inspection callers use
    * [[queryCatalyst]], which never builds one.
    */
  private val autoPrepared =
    scala.collection.concurrent.TrieMap.empty[String, PreparedIndex]
  private val prepareLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** A3 — opt-in flat-index memory guard (reference
    * input_validation.py:101-105 via training_utils.py:58-61): when set,
    * an [[add]] to an UNTRAINED db is rejected — nothing committed — if
    * the reference's flat-model estimate `(ids_ever_assigned + new)·d·4·3`
    * bytes would exceed the cap. Off by default: the flat path here is a
    * spilling parquet scan, not a resident Faiss index, so the reference's
    * RAM ceiling is not a real constraint — the knob exists for callers
    * that want reference-parity admission control. `ids_ever_assigned`
    * (maxId+1) upper-bounds the reference's live count: the guard can
    * only be MORE conservative after deletes, never admit more.
    */
  @volatile var flatAddMemoryGuardBytes: Option[Long] = None

  /** Adds-refresh debounce of every [[PreparedIndex]] this engine builds
    * — a test seam (PreparedIndexSpec pins exact visibility with 0 and
    * queryCatalyst's read-your-writes with a debounce the test provably
    * cannot outrun).
    */
  protected def autoPreparedAddsRefreshMs: Long =
    Engine.PreparedAddsRefreshIntervalMs

  /** Byte bound under which a [[PreparedIndex]] is built into its driver
    * copy — a test seam (specs set 0 to build the job form on a small
    * table).
    */
  protected def preparedLocalMaxBytes: Long = Engine.PreparedLocalMaxBytes

  /** True when an auto-prepared handle exists for `name` (test seam:
    * queryCatalyst must never BUILD one).
    */
  private[graft] def hasAutoPrepared(name: String): Boolean =
    autoPrepared.contains(name)

  /** The warm handle serving `doc`'s exact version — build (or rebuild
    * after a swap) under a per-db lock so concurrent first queries share
    * one block build. The build lock is NOT [[dbLock]]: pinning blocks
    * runs a Spark job and must not stall adds/removes.
    */
  private def autoPreparedFor(doc: CatalogDoc): PreparedIndex =
    autoPrepared.get(doc.name).filter(!_.isStaleFor(doc)).getOrElse {
      prepareLocks.getOrElseUpdate(doc.name, new Object).synchronized {
        autoPrepared.get(doc.name).filter(!_.isStaleFor(doc)).getOrElse {
          autoPrepared.remove(doc.name).foreach(_.close())
          val p = buildPrepared(doc.name, -1)
          // close any handle the publish displaces: after a drop+recreate
          // the OLD lock object is gone (delete() removes prepareLocks),
          // so a stale builder still holding it can race this publish —
          // whichever handle loses the put must not leak its pinned
          // blocks until engine shutdown
          autoPrepared.put(doc.name, p).foreach(_.close())
          // publish-then-recheck against a concurrent delete(): the drop
          // removes the catalog BEFORE sweeping autoPrepared, so if the
          // db vanished our just-published handle may have missed the
          // sweep — close it here instead of leaking its pinned blocks
          // until the engine dies. (A drop+recreate leaves a stale-but-
          // bounded handle: the next query's isStaleFor(createdAt)
          // rebuild closes it.)
          if (!exists(doc.name)) {
            autoPrepared.remove(doc.name, p)
            p.close()
            throw new IllegalArgumentException(
              s"database '${doc.name}' was dropped during prepare")
          }
          p
        }
      }
    }

  /** Compile a metadata predicate Column into a directly-evaluable
    * `(id, metadata) => Boolean` — the routed filtered path's replacement
    * for per-query Catalyst planning. The predicate is ANALYZED once
    * against the two-column candidate schema (same resolution + implicit
    * casts a real filter would get), bound, and then evaluated row-wise
    * over the in-memory preliminary candidates. Catalyst filter
    * semantics are preserved exactly: a row survives only when the
    * condition evaluates to TRUE (NULL and FALSE both drop it).
    *
    * `None` when the predicate doesn't resolve against (id, metadata) —
    * e.g. it references `vector` — in which case the caller serves
    * through the Catalyst path, where the full candidate schema is in
    * scope.
    */
  // compiled-predicate cache keyed by the (structural) unresolved
  // expression: a serving loop reusing one predicate must not re-pay the
  // ~50 ms Catalyst analysis per query — with it the routed filtered
  // floor would sit at 2x the unfiltered one. PER-THREAD, because the
  // compiled closure evaluates a shared interpreted Expression tree and
  // some eval nodes keep per-instance scratch state (json parsers,
  // cached regex) that must not be raced across concurrent queries —
  // each serving thread compiles once and reuses privately.
  // Nondeterministic predicates are never cached (reusing their
  // initialized instances would replay state) — detected on the RESOLVED
  // tree, because the unresolved one hides `expr("rand() < 0.5")` behind
  // an UnresolvedFunction node. Bounded per thread by clear-on-overflow
  // (predicate shapes per process are few).
  private val metaPredCache = ThreadLocal.withInitial(() =>
    scala.collection.mutable.HashMap
      .empty[org.apache.spark.sql.catalyst.expressions.Expression,
        Option[(Long, String) => Boolean]])

  private[core] def compileMetaPredicate(
      pred: Column): Option[(Long, String) => Boolean] = {
    val key = org.apache.spark.sql.graftbridge.Bridge.expression(pred)
    val cache = metaPredCache.get()
    cache.get(key) match {
      case Some(cached) => cached
      case None =>
        val (compiled, cacheable) = compileMetaPredicateUncached(pred)
        if (cacheable) {
          if (cache.size >= 64) cache.clear()
          cache.put(key, compiled)
        }
        compiled
    }
  }

  /** `(compiled, cacheable)` — `cacheable` is false exactly when the
    * resolved condition is nondeterministic (its initialized eval
    * instances must not be reused across queries).
    */
  private def compileMetaPredicateUncached(
      pred: Column): (Option[(Long, String) => Boolean], Boolean) = {
    import org.apache.spark.sql.catalyst.expressions.{BindReferences,
      CurrentDate, CurrentTimestamp, LocalTimestamp, Nondeterministic, Now,
      RuntimeReplaceable, Unevaluable}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    try {
      val empty = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("metadata", StringType, nullable = true))))
      val analyzed = empty.filter(pred).queryExecution.analyzed
      analyzed.collectFirst { case f: LFilter => (f.condition, f.child.output) } match {
        case None => (None, true)
        case Some((cond, out)) =>
          val bound = BindReferences.bindReference(cond, out)
          // Nodes ANALYSIS accepts but direct eval can't serve (r13
          // ADVICE — these crashed query() at serve time where
          // queryCatalyst succeeded):
          //  - Unevaluable (subqueries, optimizer-only nodes);
          //  - RuntimeReplaceable (to_date, now(), …) — replaced only by
          //    the optimizer's ReplaceExpressions, eval ASSERTS;
          //  - the current-time family — evaluable per-row in Spark 4,
          //    but Catalyst pins ONE query-start value via
          //    ComputeCurrentTime, so per-row eval would diverge.
          // After binding every attribute is a BoundReference, so any
          // such node means "serve via Catalyst instead" (None is itself
          // cacheable: analysis is deterministic).
          val unservable = bound.exists {
            case _: Unevaluable | _: RuntimeReplaceable => true
            case _: CurrentDate | _: CurrentTimestamp | _: Now |
                _: LocalTimestamp => true
            case _ => false
          }
          if (unservable) (None, true)
          else {
            val nondet =
              bound.exists { case _: Nondeterministic => true; case _ => false }
            def init(): Unit = bound.foreach {
              case n: Nondeterministic => n.initialize(0)
              case _ => ()
            }
            init()
            val closure = (id: Long, meta: String) => {
              // fresh row per call: eval is re-entrant but the backing row
              // must not be shared across concurrent queries
              val row = new org.apache.spark.sql.catalyst.expressions
                .GenericInternalRow(Array[Any](id,
                  if (meta == null) null
                  else org.apache.spark.unsafe.types.UTF8String.fromString(meta)))
              bound.eval(row) == true
            }
            // trial eval: the safety net for any OTHER node class whose
            // eval throws outside execution — never learn that on a
            // serving thread. Re-initialize afterwards so nondeterministic
            // state is untouched by the probe.
            val servable =
              try { closure(0L, null); closure(1L, "{}"); true }
              catch { case scala.util.control.NonFatal(_) => false }
            init()
            if (!servable) (None, true)
            // nondeterministic closures are marked driver-only: their
            // initialized eval state must never serialize into a task
            // closure (the pushed under-fill round ships its predicate)
            else if (nondet) (Some(new Engine.DriverOnlyPredicate(closure)), false)
            else (Some(closure), true)
          }
      }
    } catch {
      case _: org.apache.spark.sql.AnalysisException => (None, true)
      case _: org.apache.spark.SparkException => (None, true)
    }
  }

  private def hitsDf(hits: Array[PreparedIndex.Hit]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(hits.map(h => org.apache.spark.sql.Row(
        h.rank, h.id, h.metadata, h.cosineSimilarity)): _*),
      StructType(Seq(
        StructField("rank", IntegerType, nullable = false),
        StructField("id", LongType, nullable = false),
        StructField("metadata", StringType, nullable = true),
        StructField("cosine_similarity", DoubleType, nullable = false))))

  /** Per-db monitor serializing every catalog read-modify-write (add,
    * remove, compact, the train swap, the post-train drain). The
    * reference serializes the same sections with its LMDB/faiss locks
    * (fastapi.py:23-28); queries stay lock-free — they read an immutable
    * snapshot resolved through one atomic catalog load.
    */
  private val dbLocks = scala.collection.concurrent.TrieMap.empty[String, Object]
  private def dbLock(name: String): Object =
    dbLocks.getOrElseUpdate(name, new Object)

  /** M5/M6 — training-operation status per db, reference parity with the
    * `operations` dict behind GET /db/{name}/train (fastapi.py:262-338):
    * "not started" → "in progress" → "trained" (index swapped, drain of
    * during-train adds running) → "complete"; "failed" on any error OR
    * when the train produced no new index (the reference's swap finds
    * `new_faiss_index is None` → "failed", which is also what its <5000
    * bypass reports).
    *
    * Each entry is tagged with the owning train's EPOCH: a train may only
    * transition the status it claimed. Reference parity allows a second
    * train to claim the slot once the first reaches "trained" (its drain
    * still running — fastapi.py:314-326 only rejects "in progress"), so
    * without the tag the first train's final "complete"/"failed" write
    * would clobber the second's "in progress" — silently disabling the
    * double-train guard and the compaction deferral while it runs.
    */
  private val trainOps = scala.collection.concurrent.TrieMap.empty[String, (Long, String)]
  private val trainEpoch = new java.util.concurrent.atomic.AtomicLong(0L)

  /** GET /db/{name}/train parity (fastapi.py:334-338). */
  def trainingStatus(name: String): String =
    trainOps.get(name).map(_._2).getOrElse("not started")

  /** Atomically claim the training slot (fastapi.py:314-326 rejects a
    * second train while one is in progress). Returns the claim's epoch —
    * the token every later status transition must present.
    */
  private def beginTraining(name: String): Long = dbLock(name).synchronized {
    if (trainingStatus(name) == "in progress")
      throw new Engine.AlreadyTrainingException(
        s"database '$name' is in the process of training already")
    val e = trainEpoch.incrementAndGet()
    trainOps(name) = (e, "in progress")
    e
  }

  /** CAS a status transition: applied only while the entry still carries
    * `epoch` — a train that lost its slot (db dropped, or a newer train
    * claimed after "trained") writes nothing.
    */
  @annotation.tailrec
  private def setTrainStatus(name: String, epoch: Long, status: String): Unit =
    trainOps.get(name) match {
      case Some(cur @ (e, _)) if e == epoch =>
        if (!trainOps.replace(name, cur, (epoch, status)))
          setTrainStatus(name, epoch, status)
      case _ => ()
    }

  /** Remove the entry iff this train still owns it (drop-during-train
    * cleanup: a deleted db must read "not started", not a stale "failed").
    */
  private def clearTrainStatus(name: String, epoch: Long): Unit =
    trainOps.get(name) match {
      case Some(cur @ (e, _)) if e == epoch => trainOps.remove(name, cur)
      case _ => ()
    }

  /** Cache-budget control (fastapi.py `update_max_memory_usage`). */
  def updateMaxMemoryUsage(bytes: Long): Unit = indexCache.updateMaxMemory(bytes)

  /** M1 tail — GET /db/view_cache parity (fastapi.py:447-457): the cached
    * db names (deduped across index versions) plus the current/max memory
    * of the model cache. Keys only, never the artifacts.
    */
  def viewCache(): Engine.CacheView = Engine.CacheView(
    indexCache.keys.map(_._1).distinct.sorted,
    indexCache.memoryUsage, indexCache.maxMemory)

  /** M1 tail — POST /db/{name}/remove_from_cache parity
    * (fastapi.py:460-470): drop every cached index version of `name` and
    * release the matching model broadcasts + coded frames. The db itself
    * is untouched — the next query reloads from disk.
    */
  def removeFromCache(name: String): Unit = {
    indexCache.removeIf { case (n, _) => n == name }
    dropModelBroadcasts(name, keepBelow = Int.MaxValue)
    dropPendingDeletes(name)
    autoPrepared.remove(name).foreach(_.close())
  }

  // ---------------------------------------------------------------- schema

  val dataSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("metadata", StringType, nullable = true)))

  // ------------------------------------------------------------- lifecycle

  /** S1 — create db (mindb.py:42-92). */
  def create(name: String, vectorDimension: Int = -1): CatalogDoc = {
    Catalog.validateName(name)
    require(!Catalog.exists(root, name), s"database '$name' already exists")
    // a terminal status left by a previous incarnation (e.g. trained then
    // dropped) must not leak onto the fresh db; a live train keeps its
    // entry — it will fail its swap's incarnation check and self-clean
    trainOps.get(name) match {
      case Some(cur @ (_, s)) if s == "failed" || s == "complete" =>
        trainOps.remove(name, cur)
      case _ => ()
    }
    val doc = CatalogDoc.empty(name, vectorDimension)
    saveDoc(doc)
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dataSchema)
      .write.mode("overwrite").parquet(doc.dataPath(root))
    doc
  }

  /** S2 — load db (mindb.py:554-572). Always a fresh catalog read —
    * every read-modify-write and staleness re-check uses this.
    */
  def load(name: String): CatalogDoc = Catalog.load(root, name)

  // ---- serving-doc cache ----------------------------------------------
  //
  // The routed query path's dominant overhead at the published-eval
  // point is its catalog reads (routed p50 35 ms vs 20.6 ms on the raw
  // prepared handle). The ENTRY load may be up to ServingDocTtlNanos
  // stale: this driver's own mutations invalidate the cache inside the
  // save (so same-driver reads stay exact — the reference's per-process
  // cache gives the same guarantee, mindb.py:53-76), and a cross-driver
  // swap inside the TTL is caught by the POST-JOB re-check, which is
  // always fresh ("every result reflects a catalog state observed
  // during the call" still holds). Cross-driver removes/adds inside the
  // TTL window are served at ≤TTL-old visibility — the documented
  // trade, same class as the adds-refresh debounce.
  private val servingDocCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long, CatalogDoc)]
  // bumped by every same-driver catalog write: loadForServing caches a
  // freshly-read doc only if no write landed DURING the read, closing
  // the read-old-doc / save / invalidate / cache-old-doc interleaving
  // that would otherwise pin a pre-swap doc for a full TTL
  private val docGeneration = new java.util.concurrent.atomic.AtomicLong()

  // test seam — CachedDocRaceSpec injects a complete saveDoc between the
  // generation re-check and the cache put to exercise the double-check
  // eviction below deterministically
  private[core] var docCachePutSeam: () => Unit = () => ()

  private def loadForServing(name: String): CatalogDoc = {
    val now = System.nanoTime()
    servingDocCache.get(name) match {
      // the generation stamp must still be CURRENT at read time: an
      // entry put by a reader that raced a writer (pre-write doc cached
      // in the put-to-remove microsecond window below) carries a stale
      // stamp, so no reader ever serves it — this read-side check is
      // what makes "same-driver reads stay exact" unconditional rather
      // than "up to one stale read per race" (ADVICE r17)
      case Some((t, g, doc)) if now - t < Engine.ServingDocTtlNanos &&
          docGeneration.get() == g => doc
      case _ =>
        val g = docGeneration.get()
        val doc = load(name)
        if (docGeneration.get() == g) {
          docCachePutSeam()
          servingDocCache(name) = (System.nanoTime(), g, doc)
          // check-then-put is not atomic: a save can land ENTIRELY
          // between the guard above and the put (save + increment +
          // remove), re-caching the pre-write doc. Re-validate after
          // the put and evict on mismatch; any reader that hits the
          // entry inside this window rejects it anyway, because its
          // stamped generation no longer matches (read-side check
          // above).
          if (docGeneration.get() != g) servingDocCache.remove(name)
        }
        doc
    }
  }

  /** The serving paths' POST-JOB staleness re-check reads the catalog
    * through the same TTL cache as the entry load (r16 — the fresh
    * per-query `listStatus` was the named residual of the 16-thread
    * concurrency gap, VERDICT r15 #3/#4): a SAME-DRIVER swap is seen
    * immediately (`saveDoc` invalidates inside the write lock, and the
    * generation guard above closes the re-cache race), so the contract
    * — "every result reflects a catalog state observed during the call"
    * — still holds against every writer in this driver. A CROSS-DRIVER
    * swap landing inside the TTL window is now seen up to
    * [[Engine.ServingDocTtlNanos]] late — the same documented
    * visibility trade the ENTRY load has made since r12 (and the
    * reference cannot hit at all: its engine is single-process,
    * mindb.py:53-76).
    */
  private[core] def loadRecheck(name: String): CatalogDoc = loadForServing(name)

  /** Catalog write + serving-cache invalidation — every mutation that
    * persists a doc goes through here so a same-driver read after a
    * write is never stale.
    */
  private def saveDoc(doc: CatalogDoc): Unit = {
    Catalog.save(root, doc)
    docGeneration.incrementAndGet()
    servingDocCache.remove(doc.name)
  }

  def exists(name: String): Boolean = Catalog.exists(root, name)

  /** S12 — drop db (mindb.py:549-551). A drop while a train is in flight
    * is allowed (the reference's cleanup re-checks existence,
    * fastapi.py:218-222); the training swap re-checks the catalog and
    * fails cleanly.
    */
  def delete(name: String): Unit = dbLock(name).synchronized {
    indexCache.removeIf { case (n, _) => n == name }
    dropModelBroadcasts(name, keepBelow = Int.MaxValue)
    // catalog delete BEFORE the handle sweep: a prepare racing this drop
    // publishes its handle then re-checks existence (autoPreparedFor), so
    // with the catalog already gone its re-check always closes the handle
    // — in the other order a handle published between our sweep and the
    // catalog delete would pass its existence check and leak its pinned
    // blocks until the engine died
    Catalog.delete(root, name)
    dropPendingDeletes(name)
    autoPrepared.remove(name).foreach(_.close())
    prepareLocks.remove(name)
    docGeneration.incrementAndGet()
    servingDocCache.remove(name)
    if (trainingStatus(name) != "in progress") trainOps.remove(name)
  }

  /** Main table of the current snapshot (deletion vectors applied). */
  def data(name: String): DataFrame = snapshot(load(name))

  /** The live rows: base Parquet minus pending soft-deletes. The deletes
    * table is broadcast-small (bounded by the compaction threshold), so
    * the filter is a broadcast anti-join — no shuffle of the big side.
    */
  private def snapshot(doc: CatalogDoc): DataFrame = {
    val base = spark.read.schema(dataSchema).parquet(doc.dataPath(root))
    if (doc.numPendingDeletes == 0) base
    else base.join(broadcast(deletes(doc)), Seq("id"), "left_anti")
  }

  private def deletesPath(doc: CatalogDoc): String =
    s"$root/${doc.name}/deletes/d${doc.dataVersion}"

  /** The committed pending deletes of `doc`. A remove writes its ids to
    * the segment `s<n>`, `n` its pre-remove pending count, so a segment
    * named at or above `numPendingDeletes` lost its commit (the retry
    * overwrites it). Part files directly in the dir (a root written
    * before segments) all load.
    */
  private def deletes(doc: CatalogDoc): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(deletesPath(doc))
    val paths = fsFor(dir).listStatus(dir).map(_.getPath).filter { p =>
      p.getName.endsWith(".parquet") || p.getName.startsWith("s") &&
        p.getName.drop(1).toLongOption.exists(_ < doc.numPendingDeletes)
    }.map(_.toString)
    spark.read.schema(StructType(Seq(StructField("id", LongType, nullable = false))))
      .parquet(paths.toIndexedSeq: _*)
  }

  /** The sorted pending soft-deleted ids of `doc` and their executor
    * broadcast, collected once per deletes generation — (createdAt,
    * dataVersion, numPendingDeletes) names the deletes dir and its row
    * count — and shared by [[ServingScan]]'s coarse gate and every
    * [[PreparedIndex]]'s kernel. A replaced generation's broadcast is
    * unpersisted, not destroyed: an in-flight query re-fetches it lazily.
    */
  private def pendingDeletes(doc: CatalogDoc): Engine.PendingDeletes = {
    val gen = (doc.createdAt, doc.dataVersion, doc.numPendingDeletes)
    def cached = pendingDeletesCache.get(doc.name).filter(_.gen == gen)
    cached.getOrElse(pendingDeletesCache.synchronized {
      cached.getOrElse {
        val ids =
          if (doc.numPendingDeletes == 0) Array.empty[Long]
          else deletes(doc).orderBy("id").collect().map(_.getLong(0))
        val fresh = Engine.PendingDeletes(gen, spark.sparkContext.broadcast(ids))
        pendingDeletesCache.put(doc.name, fresh).foreach(_.bc.unpersist(false))
        fresh
      }
    })
  }

  private val pendingDeletesCache =
    scala.collection.concurrent.TrieMap.empty[String, Engine.PendingDeletes]

  private def dropPendingDeletes(name: String): Unit =
    pendingDeletesCache.remove(name).foreach(_.bc.unpersist(false))

  /** Typed view of the main table (API boundary; plans stay identical —
    * the Encoder only applies at collect/map sites).
    */
  def dataTyped(name: String): org.apache.spark.sql.Dataset[graft.types.VectorRow] = {
    import spark.implicits._
    data(name).as[graft.types.VectorRow]
  }

  /** S10 — count (footer-metadata-only when no deletes are pending). */
  def count(name: String): Long = data(name).count()

  // ----------------------------------------------------------------- add

  /** A1-A8 — validate, L2-normalize, assign sequential ids, append
    * (mindb.py:162-229). `rows` needs columns `vector: array<float>`,
    * `metadata: string`. Returns the assigned (firstId, lastId).
    *
    * Ids are exact and contiguous (`maxId+1 …`) without a single-partition
    * window: `zipWithIndex` does one count pass per partition and assigns
    * offset-based indices fully distributed.
    */
  def add(name: String, rows: DataFrame): (Long, Long) = dbLock(name).synchronized {
    var doc = load(name)
    val d0 = doc.vectorDimension
    // A7 — dimension inference costs one extra driver job; only pay it on
    // the first-ever add (declared or previously-inferred dims skip it)
    val d =
      if (d0 > 0) d0
      else {
        val firstRow = rows.select("vector").head(1)
        require(firstRow.nonEmpty, "add: empty input")
        firstRow(0).getSeq[Float](0).length
      }

    // A1 dim check fails the job inside the scan (no extra pass) + A2 normalize
    val prepared = rows.select(
      when(size(col("vector")) === d, col("vector"))
        .otherwise(raise_error(concat(lit(s"dimension mismatch: expected $d, got "),
          size(col("vector")).cast("string")))).as("vector"),
      col("metadata").cast("string").as("metadata"))
      .select(transform(l2Normalize(col("vector")), _.cast("float")).as("vector"),
        col("metadata"))

    val base = doc.maxId + 1
    // persist so the id-assigning zipWithIndex and the write see ONE
    // materialization of the upstream — a re-executed non-deterministic
    // source could otherwise diverge between written ids and counted ids
    prepared.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // unpersist on EVERY exit: a validation-rejected batch (dim mismatch
    // fails the count job inside the scan) must not leak its cache blocks
    val added =
      try {
        // ONE job does the count pass (VERDICT r18 #5): per-partition
        // sizes give both the total (the atomic A3 guard input) and the
        // id offsets zipWithIndex would have derived from its own
        // internal count job — the assigned ids are bit-identical (same
        // partition order, same within-partition order, same base), one
        // Spark job fewer per add on the real write path.
        val rdd = prepared.rdd
        val partCounts =
          try rdd.mapPartitionsWithIndex { case (i, it) =>
            var n = 0L; while (it.hasNext) { it.next(); n += 1 }
            Iterator((i, n))
          }.collect().sortBy(_._1).map(_._2)
          catch { // the A1 dim check's raise_error is the caller's fault
            case e: Exception if Engine.userRaisedMessage(e).isDefined =>
              throw new IllegalArgumentException(Engine.userRaisedMessage(e).get, e)
          }
        val added = partCounts.sum
        require(added > 0, "add: empty input")
        // A3 — the count is in hand and nothing is committed yet, so the
        // guard rejects atomically (same contract as the A1 dim rejection)
        checkFlatMemory(doc, d, added)
        val offsets = partCounts.scanLeft(0L)(_ + _)
        val withIds = spark.createDataFrame(
          rdd.mapPartitionsWithIndex { case (i, it) =>
            var next = base + offsets(i)
            it.map { r =>
              val row =
                org.apache.spark.sql.Row(next, r.getSeq[Float](0), r.getString(1))
              next += 1
              row
            }
          }, dataSchema)
        withIds.write.mode("append").parquet(doc.dataPath(root))
        added
      } finally prepared.unpersist()
    commitAdd(doc, d, base, added)
  }

  /** A3 — the opt-in flat-index memory guard, checked before anything of
    * the batch is written, so a rejected add commits nothing.
    */
  private def checkFlatMemory(doc: CatalogDoc, d: Int, added: Long): Unit =
    if (!doc.isTrained) flatAddMemoryGuardBytes.foreach { cap =>
      val est = (doc.maxId + 1 + added) * d.toLong * 4L * 3L
      require(est <= cap,
        s"add: flat index would use ~$est bytes > max memory usage $cap")
    }

  /** The commit tail both add paths share, once the batch's rows
    * `base …` are in the data table: encode them into a live trained
    * index, commit the doc, bin-pack past the file budget and log the
    * flat-index warning. Runs under the db lock.
    */
  private def commitAdd(doc0: CatalogDoc, d: Int, base: Long,
                        added: Long): (Long, Long) = {
    // A6 — incremental index insert for a live trained index
    if (doc0.isTrained)
      store.append(doc0, indexModel(doc0),
        spark.read.schema(dataSchema).parquet(doc0.dataPath(root))
          .filter(col("id") >= base))

    val doc = doc0.copy(maxId = base + added - 1,
      vectorDimension = d,
      numNewVectors = doc0.numNewVectors + added)
    saveDoc(doc)
    // a steady trickle of post-train adds must not degrade the pruned
    // scan into a small-file storm — bin-pack past the file budget
    if (doc.isTrained) maybeCompactCoded(doc.name)
    // A10 — flat-index size warning (mindb.py:180-184)
    if (flatWarning(doc))
      log.warn(s"database '${doc.name}' has ${doc.maxId + 1} vectors on an " +
        "untrained flat index; queries are exact brute-force — train() is recommended")
    (base, base + added - 1)
  }

  /** A10 — the flat-index size warning as a queryable predicate (the
    * condition [[add]] logs on; `flat_warning` oracle-gates it).
    */
  def flatIndexWarning(name: String): Boolean = flatWarning(load(name))

  private def flatWarning(doc: CatalogDoc): Boolean =
    !doc.isTrained && doc.maxId + 1 > Heuristics.FlatIndexWarnSize

  /** A1-A8 for a batch already on the driver (the reference's
    * `add(list of (vector, metadata))`; REST add): validation, L2
    * normalization and id assignment run here, and the rows reach the
    * data table in ONE write job — no count job, no persist. A missing
    * metadata entry is null. The stored rows are bit-identical to
    * [[add]] over the same batch in `max(1, n/5000)` partitions: the
    * normalization is `VectorKernels.l2normF`'s arithmetic followed by
    * the float cast, and the write keeps that partitioning, so the data
    * files and their row order match too (the train's samples are seeded
    * per partition).
    */
  def addLocal(name: String, vectors: Seq[Array[Float]],
               metadata: Seq[String]): (Long, Long) = dbLock(name).synchronized {
    val doc = load(name)
    val batch = vectors.zipAll(metadata, Array.empty[Float], null).toArray
    require(batch.nonEmpty, "add: empty input")
    // A7 — a db with no declared or inferred dimension takes the first
    // vector's
    val d =
      if (doc.vectorDimension > 0) doc.vectorDimension
      else Option(batch(0)._1).fold(0)(_.length)
    batch.foreach { case (v, _) =>
      val got = if (v == null) -1 else v.length
      require(got == d, s"dimension mismatch: expected $d, got $got")
    }
    val added = batch.length.toLong
    checkFlatMemory(doc, d, added)
    val base = doc.maxId + 1
    val rows = batch.indices.map { i =>
      val (v, m) = batch(i)
      (base + i, graft.functions.VectorKernels.l2normFloats(v), m)
    }
    val rdd = spark.sparkContext
      .parallelize(rows, math.max(1, batch.length / 5000))
      .map { case (id, v, m) =>
        InternalRow(id, UnsafeArrayData.fromPrimitiveArray(v), UTF8String.fromString(m))
      }
    Bridge.internalCreateDataFrame(spark, rdd, dataSchema)
      .write.mode("append").parquet(doc.dataPath(root))
    commitAdd(doc, d, base, added)
  }

  // ---------------------------------------------------------------- remove

  /** D1-D5 — delete ids with deletion vectors: one scan finds the present
    * ids, which append to a broadcast-small deletes table; every reader
    * anti-joins it (snapshot). Physical rewrite is deferred to [[compact]],
    * triggered when pending deletes exceed `compactionThreshold` of the
    * table — O(batch) per delete instead of O(n) rewrite amplification.
    * Counters split by `id > maxTrainedId` exactly as the reference
    * (mindb.py:459-489, 529-540); deletes are immediately invisible to
    * queries (D2 semantics — the index only ever references live rows
    * because candidate fetch goes through the snapshot).
    * Returns the number of rows actually deleted.
    */
  def remove(name: String, ids: Seq[Long],
             compactionThreshold: Double = Engine.CompactionThreshold): Long = dbLock(name).synchronized {
    require(ids.forall(_ >= 0), "negative ids found; all ids must be non-negative")
    var doc = load(name)
    val idDf = spark.createDataFrame(ids.distinct.map(Tuple1(_))).toDF("id")

    // one scan: which of the requested ids are live? (driver-bounded by
    // the request batch size)
    val present = snapshot(doc).join(broadcast(idDf), Seq("id"), "left_semi")
      .select("id").collect().map(_.getLong(0))
    if (present.isEmpty) return 0L
    val removedTrained = present.count(_ <= doc.maxTrainedId).toLong
    val removedNew = present.length - removedTrained

    // soft delete: the present ids become this data version's deletes
    // segment named by the pre-remove pending count; the catalog save
    // below is what makes it read (see `deletes`)
    spark.createDataFrame(present.toSeq.map(Tuple1(_))).toDF("id")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${deletesPath(doc)}/s${doc.numPendingDeletes}")

    doc = doc.copy(
      numPendingDeletes = doc.numPendingDeletes + present.length,
      numTrainedVectorsRemoved = doc.numTrainedVectorsRemoved + removedTrained,
      numNewVectors = doc.numNewVectors - removedNew)
    saveDoc(doc)

    val physicalRows = doc.maxId + 1 // upper bound incl. already-deleted
    if (physicalRows > 0 &&
        doc.numPendingDeletes.toDouble / physicalRows >= compactionThreshold)
      compact(name)
    removedTrained + removedNew
  }

  /** Physically apply pending deletes: rewrite the data snapshot (and the
    * coded index table when trained) without the deleted rows, bump the
    * versions atomically, reset the deletes table. Idempotent no-op when
    * nothing is pending.
    */
  def compact(name: String): CatalogDoc = dbLock(name).synchronized {
    var doc = load(name)
    if (doc.numPendingDeletes == 0) return doc
    // Deferred while a train is in flight (the reference defers LMDB
    // removal the same way, fastapi.py:191-205): a compaction here would
    // bump the index version the training swap already allocated. The
    // post-train drain re-checks the threshold and compacts then.
    if (trainingStatus(name) == "in progress") {
      log.info(s"compaction of '$name' deferred: training in progress")
      return doc
    }
    val old = doc
    val newVersion = doc.dataVersion + 1
    snapshot(doc).write.mode("overwrite").parquet(s"$root/$name/data/v$newVersion")

    if (doc.isTrained) doc = rewriteIndex(doc, Some(deletes(doc)))

    doc = doc.copy(dataVersion = newVersion, numPendingDeletes = 0L)
    saveDoc(doc) // atomic swap; old deletes dir is now unreferenced
    markSuperseded((Seq(old.dataPath(root), deletesPath(old)) ++
      supersededIndexDir(old)): _*)
    doc
  }

  // ----------------------------------------------------------------- query

  /** Q1-Q9 — two-stage ANN query (mindb.py:368-442). Returns an ordered
    * DataFrame `(rank, id, metadata, cosine_similarity)` of `finalTopK`
    * rows. Untrained dbs use the exact flat path (mindb.py:396-415).
    *
    * `predicate` is the metadata filter the reference lists as its next
    * major feature (README.md:52): a Column over (id, metadata), e.g.
    * `get_json_object(col("metadata"), "$.lang") === "en"`. On the flat
    * path it pushes into the scan (exact filtered kNN); on the trained
    * path it post-filters the preliminary candidates with an UNDER-FILL
    * GUARD: if the filtered candidate set is smaller than `finalTopK`,
    * ONE pushed round re-runs the preliminary stage with the predicate
    * gating the ADC cut (top-prelimK MATCHING candidates), and if even
    * that under-fills, the query falls back to the exact flat scan — a
    * selective predicate never silently returns fewer rows than the
    * data could supply.
    *
    * VISIBILITY (routed trained path): results are bit-identical to the
    * Catalyst plan over the catalog state the call observed, but that
    * state may lag same-engine mutations by ≤ the adds-refresh debounce
    * window ([[Engine.PreparedAddsRefreshIntervalMs]], 100 ms: adds
    * committed inside the window can be invisible) and cross-driver
    * mutations by ≤ the serving-doc TTL ([[Engine.ServingDocTtlNanos]]:
    * adds AND removes from another driver inside the TTL can be served
    * stale — the post-job re-check catches version moves, not pending-
    * delete drift). The reference folds appends synchronously, so its
    * reads are read-your-writes; callers needing that on this engine use
    * [[queryCatalyst]]. Every handle, routed or from [[prepareServing]],
    * takes the same window.
    *
    * EXECUTION CONTRACT: on a trained db this method is EAGER — the
    * coarse ADC stage runs (a Spark job) at CALL time, and the returned
    * DataFrame holds only the candidate-fetch + rerank plan over its
    * survivors. Callers that build queries speculatively (EXPLAIN, plan
    * inspection) pay the coarse scan up front; use the flat path or
    * [[prepareServing]] if construction must stay free. This is the Q4
    * trade: collecting the ≤ prelimK survivor ids is what lets the fetch
    * scan read ∝ candidates instead of ∝ probes (the 100M-geometry fix).
    */
  def query(name: String, q: Array[Float], preliminaryTopK: Int = 500,
            finalTopK: Int = 100, predicate: Option[Column] = None): DataFrame = {
    // ≤TTL-stale entry read (same-driver mutations invalidate, the
    // post-job re-check inside the handle is always fresh — see the
    // serving-doc cache note above); the Catalyst path below re-loads
    // fresh itself
    val doc = loadForServing(name)
    // AUTO-ROUTING (VERDICT r11 ask #3, extended to predicates in r13): a
    // single query on a TRAINED db serves through a warm engine-owned
    // [[PreparedIndex]] — one job over pinned blocks instead of a fresh
    // Catalyst plan whose analysis of the chunked probe-union dominated
    // p50 at the 35M geometry (EVAL_r10 scale_run_35m: 944 ms of
    // 1,045 ms was planning). A metadata predicate is compiled ONCE
    // against the (id, metadata) schema and evaluated against the
    // preliminary candidates inside the fused job, with the identical
    // under-fill widening guard — so the filtered form shares the routed
    // floor instead of paying the planning floor (EVAL_r12
    // catalyst_query_ms_p50 1.05-1.53 s at 35M/100M). Results are
    // bit-identical (PreparedIndexSpec; the prepared_knn /
    // knn_filtered_trained DuckDB replays). First routed query per
    // (db, version) pays the block build; staleness falls back inside
    // the handle, and the handle is rebuilt here once the catalog doc
    // shows a moved version. [[queryCatalyst]] is the pure-plan path.
    routedHits(doc, q, preliminaryTopK, finalTopK, predicate)
      .fold(queryCatalyst(name, q, preliminaryTopK, finalTopK, predicate))(hitsDf)
  }

  /** The routed answer shared by [[query]] and [[queryHits]]: the warm
    * auto-prepared handle's hits, or None when the caller must take the
    * plan path — an untrained db, a predicate that needs the
    * full candidate schema, or an IllegalArgumentException from the
    * handle. The catch covers a concurrent close (cache eviction / drop)
    * voiding the handle mid-call — the plan path serves the same
    * observed state — and validation failures: queryCatalyst re-runs the
    * identical require()s, so a genuine bad query surfaces the same error
    * from the plan path instead of racing the handle check.
    */
  private def routedHits(doc: CatalogDoc, q: Array[Float], prelimK: Int,
                         finalK: Int, predicate: Option[Column])
      : Option[Array[PreparedIndex.Hit]] = {
    def routed(serve: PreparedIndex => Array[PreparedIndex.Hit]) =
      try Some(serve(autoPreparedFor(doc)))
      catch { case _: IllegalArgumentException => None }
    if (!doc.isTrained) None
    else predicate match {
      case None => routed(_.queryWith(doc, q, prelimK, finalK))
      case Some(pred) =>
        compileMetaPredicate(pred).flatMap(evalP =>
          routed(_.queryFilteredWith(doc, q, prelimK, finalK, pred, evalP)))
    }
  }

  /** [[query]] without the DataFrame: the driver-local hits, straight
    * from the routed serving path — for latency-floor callers, who
    * otherwise pay ~15 ms of LocalRelation analysis per call just to
    * collect a k-row frame. Same routing, same staleness handling, same
    * results (the fallback paths collect the equivalent plan); the
    * DataFrame form remains [[query]] for everything relational.
    * The routed visibility window ([[query]]'s doc) applies here too.
    */
  def queryHits(name: String, q: Array[Float], preliminaryTopK: Int = 500,
                finalTopK: Int = 100,
                predicate: Option[Column] = None): Array[PreparedIndex.Hit] = {
    val doc = loadForServing(name)
    routedHits(doc, q, preliminaryTopK, finalTopK, predicate).getOrElse {
      queryCatalyst(name, q, preliminaryTopK, finalTopK, predicate).collect().map { r =>
        PreparedIndex.Hit(r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3))
      }
    }
  }

  /** [[query]] on the composable plan surface: a fresh catalog load
    * (read-your-writes, unlike the routed entry's TTL'd load), Column
    * predicates, explainable frames. Never a prepared handle: the coarse
    * and fetch stages run as per-epoch [[ServingScan]] jobs (pending
    * deletes included), and a filtered query's pushed under-fill round is
    * the batch path at q=1 — so it is the independent ground truth every
    * spec/eval compares the routed/prepared forms against.
    */
  def queryCatalyst(name: String, q: Array[Float], preliminaryTopK: Int = 500,
                    finalTopK: Int = 100,
                    predicate: Option[Column] = None): DataFrame = {
    val doc = load(name)
    require(doc.vectorDimension <= 0 || q.length == doc.vectorDimension,
      s"query dim ${q.length} != ${doc.vectorDimension}")
    val qn = normalizeLocal(q)
    val table = snapshot(doc)
    // untrained: the exact flat scan, the predicate pushed into it
    if (!doc.isTrained)
      return rerankFrame(predicate.fold(table)(table.filter), qn, finalTopK)

    // Q2 — coarse search: probe selection on the driver (O(nlist·p)),
    // the probed buckets scored by the BatchANN reconstruction kernel
    // (q=1) in plan-free scan tasks. ADC math runs executor-side from the
    // per-version model broadcast — nothing nprobe-sized ships per query.
    val model = indexModel(doc)
    val qp = model.pca.applyLocal(qn)
    val probes = model.nearestClusters(qp, doc.nProbe)
    val cand = servingScanCoarse(doc, qp, probes, preliminaryTopK)
    // Q4 — candidate fetch reads ∝ CANDIDATES, not ∝ probes: the ≤ prelim
    // surviving ids land on the driver and the fetch scans only the
    // clusters that HOLD survivors. At the 100M geometry that is ~250k
    // decoded covering rows instead of 3M — the vector/metadata decode of
    // probed-but-candidate-less clusters was the single-query exec
    // bottleneck (profiled 5-10 s, CHANGES_r10.md). This is the Parquet
    // form of the reference's fetch-by-id from LMDB after the Faiss search.
    predicate match {
      case None =>
        // the rerank over ≤ prelimK driver-resident rows needs no cluster
        // job: rerankLocal is row-identical to rerankFrame (gated by the
        // DuckDB trained rows). The motive: the window+orderBy rerank of
        // ~500 LOCAL rows still cost a ~70 ms two-stage job at 35M
        // (scaleeval_35m_clean.log query_exec_ms_p50).
        rerankLocal(servingScanFetchRows(doc, cand), qn, finalTopK)
      case Some(pred) =>
        // Under-fill guard (r15 semantics — one decisive pushed round,
        // see PreparedIndex.queryFilteredWith for the full rationale).
        // localCheckpoint materializes the (tiny, ≤ prelim rows) filtered
        // candidates so counting and reranking them share one evaluation.
        val first = servingScanFetch(doc, cand).filter(pred).localCheckpoint(true)
        if (first.count() >= finalTopK) rerankFrame(first, qn, finalTopK)
        // a NONDETERMINISTIC predicate has no stable matching set to push
        // against — the exact flat scan, one evaluation per row, is the
        // only coherent continuation
        else if (predicateNondeterministic(table, pred))
          rerankFrame(table.filter(pred), qn, finalTopK)
        else {
          // the pushed round is the batch path at q=1: the predicate
          // filters the covering scan BEFORE the ADC cut, so the
          // survivors are the top-prelimK MATCHING rows by (adc, id).
          // Fewer than finalTopK means the probed clusters can't fill
          // the ask — the exact flat scan is then semantically required.
          val pushed = filteredBatchRound(doc, model, Array(0L -> qn),
            preliminaryTopK, finalTopK, pred, pushed = true)
          if (pushed.length >= finalTopK)
            hitsDf(pushed.sortBy(_.getInt(4)).map(r => PreparedIndex.Hit(
              r.getInt(4), r.getLong(1), r.getString(2), r.getDouble(3))))
          else rerankFrame(table.filter(pred), qn, finalTopK)
        }
    }
  }

  /** Q5/Q6 — exact rerank by dot-product cosine (normalized vectors):
    * the shared tail of every single-query plan path, so the prepared
    * path's flat fallback produces the IDENTICAL frame the Catalyst
    * path's terminal under-fill branch does.
    */
  private def rerankFrame(candidates: DataFrame, qn: Array[Float],
                          finalTopK: Int): DataFrame = {
    val qLit = typedLit(qn.toSeq)
    val scored = candidates
      .select(col("id"), col("metadata"), dot(col("vector"), qLit).as("cosine_similarity"))
      .orderBy(col("cosine_similarity").desc, col("id"))
      .limit(finalTopK)
    scored.withColumn("rank",
      row_number().over(Window.orderBy(col("cosine_similarity").desc, col("id"))))
      .select("rank", "id", "metadata", "cosine_similarity")
  }

  /** The exact flat filtered scan — the terminal branch of the trained
    * predicate path's under-fill guard, callable directly by the
    * prepared filtered path once ITS widening has under-filled (so it
    * serves the same frame without re-running the coarse rounds the
    * handle already ran in-memory). Fresh catalog load: the fallback
    * must see deletes committed after the handle's entry doc.
    */
  private[core] def queryFlatFiltered(name: String, q: Array[Float],
                                      finalTopK: Int,
                                      predicate: Option[Column]): DataFrame = {
    val doc = load(name)
    val qn = normalizeLocal(q)
    val table = snapshot(doc)
    rerankFrame(predicate.fold(table)(table.filter), qn, finalTopK)
  }

  /** Batched exact query for throughput (the Spark-side win): many query
    * vectors in one job, per-query top-k via bounded per-partition heaps
    * ([[graft.operators.TopK]]) — shuffle is O(partitions·q·k) instead of
    * the full n·q scored cross product a window-rank plan would move.
    * `queries`: (query_id long, qvec array<float>) — pre-normalized or not,
    * broadcast-small by contract (collected to the driver).
    */
  def queryBatchFlat(name: String, queries: DataFrame, finalTopK: Int,
                     predicate: Option[Column] = None): DataFrame = {
    val doc = load(name)
    val table = snapshot(doc)
    // exact path: the predicate pushes into the ONE shared scan, so every
    // query's top-k ranges over ALL matching rows — no under-fill
    // semantics needed (this is the batch face of the single flat
    // filtered query, and the terminal fallback target of the trained
    // filtered batch below)
    val src = predicate.fold(table)(table.filter)
    val qs = queries
      .select(col("query_id").cast("long"), col("qvec").cast("array<float>"))
      .collect()
      .map(r => r.getLong(0) -> normalizeLocal(r.getSeq[Float](1).toArray))
    val topk = graft.operators.TopK.topKPerQuery(src, qs, finalTopK)
    // metadata hydrate: broadcast the tiny q·k result against the table
    src.select(col("id"), col("metadata"))
      .join(broadcast(topk), Seq("id"))
      .select(col("query_id"), col("id"), col("metadata"),
        col("sim").as("cosine_similarity"), col("rank"))
  }

  /** Batched TRAINED two-stage query: q query vectors share one
    * partition-pruned scan of the coded table ([[graft.operators.BatchANN]])
    * and one candidate-rerank pass — the throughput shape where the Spark
    * engine amortizes scan cost across queries. Results are identical to
    * running [[query]] per query vector (same distances, same tie-breaks).
    * `queries`: (query_id long, qvec array<float>), broadcast-small.
    */
  def queryBatchTrained(name: String, queries: DataFrame,
                        preliminaryTopK: Int = 500, finalTopK: Int = 100,
                        predicate: Option[Column] = None): DataFrame = {
    val doc = load(name)
    require(doc.isTrained, s"'$name' has no trained index — use queryBatchFlat")
    val model = indexModel(doc)
    val raw = queries
      .select(col("query_id").cast("long"), col("qvec").cast("array<float>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    // raw vectors are kept for the predicate path's per-query re-route:
    // the single filtered path normalizes the RAW query itself, and
    // normalize is not bit-idempotent
    val rawByQid = raw.toMap
    val qs = raw.map { case (qid, v) => qid -> normalizeLocal(v) }
    // Driver-memory guard: the candidate round-trip holds q·prelimK rows
    // on the driver (twice, briefly: Array[Row] + the rebuilt frame). A
    // very large batch would OOM it, so past the cap the batch splits
    // into driver-bounded chunks. Each chunk reuses the ALREADY-normalized
    // vectors (normalizing a unit float vector is not bit-idempotent, so
    // re-entering the public method would shift last-bit tie-breaks) and
    // is MATERIALIZED (eager localCheckpoint) before the next chunk runs,
    // so the executed chunks' candidate LocalRelations are released and
    // driver residency is genuinely bounded per chunk — per-query results
    // are independent, so the split is invisible to correctness; only
    // scan amortization across chunks is lost.
    if (qs.length.toLong * preliminaryTopK > Engine.MaxDriverBatchCandidates) {
      val perChunk = math.max(1,
        (Engine.MaxDriverBatchCandidates / preliminaryTopK).toInt)
      return qs.grouped(perChunk).map { chunk =>
        queryBatchTrainedNormalized(doc, model, chunk, preliminaryTopK,
          finalTopK, predicate, rawByQid).localCheckpoint(true)
      }.reduce(_ union _)
    }
    queryBatchTrainedNormalized(doc, model, qs, preliminaryTopK, finalTopK,
      predicate, rawByQid)
  }

  /** [[queryBatchTrained]] body over collected, already-normalized
    * (query_id, unit vector) pairs — the chunked path calls this per chunk
    * so chunking stays bit-identical to the one-shot plan.
    */
  private def queryBatchTrainedNormalized(doc: CatalogDoc,
      model: Engine.IndexModel, qs: Array[(Long, Array[Float])],
      preliminaryTopK: Int, finalTopK: Int,
      predicate: Option[Column] = None,
      rawByQid: Map[Long, Array[Float]] = Map.empty): DataFrame = {
    val qsP = qs.map { case (qid, qn) => qid -> model.pca.applyLocal(qn) }
    val probes = qsP.map { case (_, qp) => model.nearestClusters(qp, doc.nProbe) }
    val probeUnion = probes.flatten.distinct
    val live = store.prunedLive(doc, probeUnion)
    val candRows = graft.operators.BatchANN.coarseCandidates(
      spark, live, modelBroadcast(doc), qsP, probes, preliminaryTopK)
      .select("query_id", "id", "cluster_id").collect()
    // rerank fetches from a scan pruned to the clusters HOLDING candidates
    // (≤ q·prelim rows on the driver — the bound the broadcast build
    // already imposed), not the full probe union: fetch bytes ∝
    // candidates, never ∝ nprobe — the base table and the
    // candidate-less probed clusters are never decoded (see [[query]])
    val candidates = spark.createDataFrame(
      java.util.Arrays.asList(candRows: _*),
      StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("id", LongType, nullable = false),
        StructField("cluster_id", IntegerType, nullable = false))))
    val fetchScan =
      if (candRows.isEmpty)
        live.select("cluster_id", "id", "vector", "metadata").filter(lit(false))
      else store.prunedLive(doc, candRows.map(_.getInt(2)).distinct)
        .select("cluster_id", "id", "vector", "metadata")
        // the candidate id-chain pushes too (the single-path form,
        // Q4): page-level pruning inside the candidate-holding
        // clusters' cluster_id-sorted files — the fetch decodes
        // ~q·prelim rows, never whole clusters (~500k rows at the
        // 100M geometry). The broadcast join alone is semantically
        // identical but decodes every row of every candidate-holding
        // cluster first.
        .filter(col("id").isInCollection(
          candRows.map(r => java.lang.Long.valueOf(r.getLong(1)))
            .distinct.toIndexedSeq))
    predicate match {
      case None =>
        graft.operators.BatchANN.rerank(spark, fetchScan, candidates, qs,
          finalTopK)
      case Some(pred) =>
        // Filtered batch = the batch face of the single filtered query:
        // the predicate filters the hydrated candidate rows (pushed into
        // the pruned fetch scan as a Catalyst filter), and the queries
        // whose filtered preliminary set can't fill finalTopK — EXACTLY
        // the condition under which the single path re-runs — take ONE
        // shared PUSHED round (predicate before the ADC cut, per-query
        // top-prelimK matching candidates), never a per-query loop:
        // under a cluster-correlated predicate (the adversarial shape)
        // half the batch under-fills AT ONCE, and a sequential re-route
        // would silently lose the batch path's one-job throughput
        // property. Queries whose pushed round still can't fill take the
        // terminal exact scan TOGETHER via [[queryBatchFlat]] — the
        // batch face of the single path's flat fallback (same kernel
        // ordering, gated bit-identical by PreparedIndexSpec). Eager by
        // necessity (per-query fill counts drive the re-route), like the
        // trained single form. Collected rows ≤ q·finalK — strictly
        // smaller than the q·prelimK the candidate stage already held.
        val rows = graft.operators.BatchANN.rerank(
          spark, fetchScan.filter(pred), candidates, qs, finalTopK).collect()
        val filledBy = rows.groupBy(_.getLong(0))
        def fill(qid: Long): Int = filledBy.getOrElse(qid, Array.empty).length
        val kept = rows.filter(r => fill(r.getLong(0)) >= finalTopK)
        val under = qs.filter { case (qid, _) => fill(qid) < finalTopK }
        val rerouted: Array[org.apache.spark.sql.Row] =
          if (under.isEmpty) Array.empty
          else {
            // r15 under-fill semantics (the single path's, batched): ONE
            // pushed round for ALL under-filled queries together — the
            // predicate filters the covering coded scan BEFORE the ADC
            // cut, so each query gets its top-prelimK MATCHING rows by
            // (adc, id). Nondeterministic predicates skip straight to
            // the exact flat scan (no stable matching set to push
            // against — same rule as the single path).
            val nondet = predicateNondeterministic(live, pred)
            log.info(s"filtered batch under-fill: ${under.length} of " +
              s"${qs.length} queries re-route " +
              (if (nondet) "(nondeterministic predicate - straight to the exact scan)"
               else "(one pushed round)"))
            val retryRows: Array[org.apache.spark.sql.Row] =
              if (nondet) Array.empty
              else filteredBatchRound(doc, model, under, preliminaryTopK,
                finalTopK, pred, pushed = true)
            val retryFilled = retryRows.groupBy(_.getLong(0))
            val retryKept = retryRows.filter(r =>
              retryFilled(r.getLong(0)).length >= finalTopK)
            val flatQids = under.iterator.map(_._1).filter(q =>
                retryFilled.getOrElse(q, Array.empty).length < finalTopK)
              .toArray
            val flatRows: Array[org.apache.spark.sql.Row] =
              if (flatQids.isEmpty) Array.empty
              else {
                // RAW vectors: the flat path normalizes the raw query
                // itself, and normalize is not bit-idempotent
                val qdf = spark.createDataFrame(
                  java.util.Arrays.asList(flatQids.map(qid =>
                    org.apache.spark.sql.Row(qid, rawByQid(qid).toSeq)): _*),
                  StructType(Seq(
                    StructField("query_id", LongType, nullable = false),
                    StructField("qvec",
                      ArrayType(FloatType, containsNull = false),
                      nullable = false))))
                queryBatchFlat(doc.name, qdf, finalTopK, Some(pred)).collect()
              }
            retryKept ++ flatRows
          }
        spark.createDataFrame(
          java.util.Arrays.asList((kept ++ rerouted): _*),
          StructType(Seq(
            StructField("query_id", LongType, nullable = false),
            StructField("id", LongType, nullable = false),
            StructField("metadata", StringType, nullable = true),
            StructField("cosine_similarity", DoubleType, nullable = false),
            StructField("rank", IntegerType, nullable = false))))
    }
  }

  /** Whether `pred` is nondeterministic when analyzed against `frame`'s
    * schema — detected on the ANALYZED tree, because the unresolved
    * Column hides `expr("rand() < 0.5")` behind an UnresolvedFunction
    * node (the same rule [[compileMetaPredicate]] applies for
    * cacheability). The under-fill guards route nondeterministic
    * predicates straight to the exact flat scan: they have no stable
    * matching set for a pushed round to converge on.
    */
  private def predicateNondeterministic(frame: DataFrame, pred: Column): Boolean =
    frame.filter(pred).queryExecution.analyzed.exists(plan =>
      plan.expressions.exists(_.exists(!_.deterministic)))

  /** One coarse+rerank round for a group of under-filled filtered batch
    * queries — the batch twin of the single filtered path's under-fill
    * retry: identical per-query candidate arithmetic (same coarse
    * kernel, same probes), one job for the whole group. `pushed` = the
    * r15 decisive form: the predicate filters the covering coded scan
    * BEFORE the ADC cut, yielding each query's top-`prelim` MATCHING
    * candidates by (adc, id).
    */
  private def filteredBatchRound(doc: CatalogDoc, model: Engine.IndexModel,
      qsSub: Array[(Long, Array[Float])], prelim: Int, finalTopK: Int,
      pred: Column, pushed: Boolean = false): Array[org.apache.spark.sql.Row] = {
    // re-apply the driver-candidate bound at this round's geometry
    // (per-query results are independent, so the split is invisible to
    // correctness)
    if (qsSub.length.toLong * prelim > Engine.MaxDriverBatchCandidates &&
        qsSub.length > 1) {
      val perChunk = math.max(1,
        (Engine.MaxDriverBatchCandidates / prelim).toInt)
      return qsSub.grouped(perChunk).flatMap(g =>
        filteredBatchRound(doc, model, g, prelim, finalTopK, pred, pushed)).toArray
    }
    val qsP = qsSub.map { case (qid, qn) => qid -> model.pca.applyLocal(qn) }
    val probes = qsP.map { case (_, qp) => model.nearestClusters(qp, doc.nProbe) }
    val live0 = store.prunedLive(doc, probes.flatten.distinct)
    val live = if (pushed) live0.filter(pred) else live0
    val candRows = graft.operators.BatchANN.coarseCandidates(
      spark, live, modelBroadcast(doc), qsP, probes, prelim)
      .select("query_id", "id", "cluster_id").collect()
    if (candRows.isEmpty) return Array.empty
    val candidates = spark.createDataFrame(
      java.util.Arrays.asList(candRows: _*),
      StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("id", LongType, nullable = false),
        StructField("cluster_id", IntegerType, nullable = false))))
    val fetchScan = store.prunedLive(doc, candRows.map(_.getInt(2)).distinct)
      .select("cluster_id", "id", "vector", "metadata")
      // pushed candidate id-chain — same form and rationale as the
      // unfiltered batch fetch above: reads ∝ candidates, not clusters
      .filter(col("id").isInCollection(
        candRows.map(r => java.lang.Long.valueOf(r.getLong(1)))
          .distinct.toIndexedSeq))
    graft.operators.BatchANN.rerank(spark, fetchScan.filter(pred), candidates,
      qsSub, finalTopK).collect()
  }

  /** Pin the trained index into a memory-resident [[PreparedIndex]] —
    * the low-latency serving form: the covering coded table is pinned
    * once as primitive blocks — a driver copy served in the caller thread
    * when it fits [[Engine.PreparedLocalMaxBytes]], else cached executor
    * partitions served by ONE job per query (fused ADC + exact rerank
    * in-task, driver merge) — instead of a per-query Catalyst plan.
    * Results are bit-identical to
    * [[query]] (gated by the `prepared_knn` DuckDB replay row and
    * PreparedIndexSpec); mutations are handled by delta-refresh
    * (removes AND bounded adds — appended rows join as a side buffer)
    * or transparent fallback to the regular path (retrain / compact /
    * adds past the side-buffer bound) — see [[PreparedIndex]].
    *
    * `numParts` defaults to the scheduler's parallelism: tasks are pure
    * in-memory scans of (nprobe/nlist)·n/numParts rows, so more, smaller
    * tasks only add scheduling overhead. An explicit `numParts` builds a
    * handle of its own; the default shares the engine's routing handle.
    */
  def prepareServing(name: String, numParts: Int = -1): PreparedIndex = {
    val doc = load(name)
    require(doc.isTrained, s"'$name' has no trained index to prepare")
    // default-shaped requests SHARE the engine's routing handle: one
    // pinned block set serves the auto-routed queries and every explicit
    // caller. Without this, query() + prepareServing() pinned TWO copies
    // of the block set — at the 35M geometry the second build evicted
    // the first's partitions and every sequential serve paid disk
    // re-promotion (r14 eval: 2.07 s prepared p50 from a 35 ms path).
    if (numParts <= 0) {
      while (true) {
        // tryRetain loses only to a concurrent swap's close of the just
        // published handle; autoPreparedFor rebuilds fresh on re-entry
        autoPreparedFor(load(name)).tryRetain() match {
          case Some(h) => return h
          case None => ()
        }
      }
    }
    buildPrepared(doc.name, numParts)
  }

  /** The unshared build behind [[prepareServing]] (and the engine's own
    * routing handle): pin the coded blocks in the handle's one form and
    * wire the refresh closures.
    */
  private def buildPrepared(name: String, numParts: Int): PreparedIndex = {
    val doc = load(name)
    require(doc.isTrained, s"'$name' has no trained index to prepare")
    val parts =
      if (numParts > 0) numParts else spark.sparkContext.defaultParallelism
    val localMax = preparedLocalMaxBytes
    // the id fence pins the block set to EXACTLY the pinned doc: an add
    // racing prepare would otherwise land its rows both in the blocks
    // (the scan sees the appended files) and in the side buffer (id >
    // pinned.maxId) — served twice
    val cached = graft.operators.PreparedANN.buildBlocks(
        store.frame(doc).filter(col("id") <= doc.maxId), parts, localMax)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one job caches and measures the blocks; a set within the bound
    // becomes the driver copy and leaves the executors
    val bytes = cached.map(_.valuesIterator.map(_.bytes).sum).fold(0L)(_ + _)
    val blocks =
      if (bytes > localMax) Left(cached)
      else
        try Right(graft.operators.PreparedANN.concatBlocks(cached.collect()))
        finally cached.unpersist(blocking = false)
    // Post-prepare appends (A6 encodes them into the coded table before
    // add() returns) delta-refresh into a driver-local side buffer: the
    // appended rows live in parquet files whose id stats are entirely
    // above the fence, so the pushed `id > fence` filter skips every
    // pre-prepare file at the footer. None past the row cap — the handle
    // degrades to fallback and tells the caller to re-prepare.
    val collectAppended = (d: CatalogDoc, sinceId: Long) => {
      val delta = store.frame(d).filter(col("id") > sinceId)
        .select("cluster_id", "id", "code", "vector", "metadata")
      val rows = delta.limit(Engine.MaxPreparedSideRows + 1).collect()
      if (rows.length > Engine.MaxPreparedSideRows) None
      else Some(graft.operators.PreparedANN.foldBlocks(
        rows.iterator.map(r => (r.getInt(0), r))))
    }
    new PreparedIndex(this, spark, doc, blocks, modelBroadcast(doc),
      pendingDeletes(_).bc, collectAppended, autoPreparedAddsRefreshMs)
  }

  /** Probe-list chunk size for the bucketed pruned scan. Each chunk's
    * `cluster_id IN (…)` stays under the parquet push threshold (512, see
    * the [[CodedStore]] constructor) so it reaches the reader as a page-prunable
    * predicate; chunks of the SORTED list cover disjoint cluster-id
    * ranges, so their bucket sets barely overlap and each bucket file is
    * still opened ~once across the union. Overridable so specs can force
    * the multi-chunk path on a small nprobe.
    */
  protected def probePushChunk: Int = 500

  /** Per-instance view of [[CodedStore.CodedShuffleGroupBytes]] — the
    * grouped coded write's scratch threshold. Overridable so specs can
    * force the multi-group path on a small corpus (layout equality is
    * gated, not assumed — CodedLayoutSpec).
    */
  protected def codedShuffleGroupBytes: Long = CodedStore.CodedShuffleGroupBytes

  /** Probe-count ceiling for the chunked-union plan, given the table's
    * nlist. Two independent reasons to stop chunking and take one
    * bucket-pruned scan with a row-level residual filter instead:
    * (a) RELATIVE — past ~1/8 of all clusters the page index passes most
    * pages anyway (512-row pages hold 1-2 clusters, but probed clusters
    * this dense leave few prunable gaps), so the union buys little;
    * (b) ABSOLUTE — each 500-probe chunk is its own scan subtree, and
    * Catalyst planning cost grows with the union width (measured ~450 ms
    * at 8 chunks), so cap the width at 32 chunks regardless of nlist.
    * A fixed 4096 cap here was wrong at the 100M geometry (heuristic
    * ceiling nlist 200k, nprobe 6000): 6000 probes are 3% of clusters —
    * page pruning still skips ~97% of the table, and the full-scan
    * branch would read ~33x the bytes of the chunked one.
    */
  protected def maxChunkedProbePush(nlist: Int): Int =
    math.max(512, math.min(nlist / 8, 32 * probePushChunk))
    // (512 floor: below it either plan reads a trivial table — keep the
    // pushed-In shape small fixtures and specs rely on)

  // (r15 negative result, evalruns_r15/rootprofile{2,3,4}_35m.log: a
  // per-bucket branch-union candidate fetch — each file's pushed chain
  // carrying only its own candidate ids — measured fetch_collect
  // 116 → 319 ms at 35M even with branches grouped to ≤12 and
  // split-planned; the branch-union's per-query planning and per-branch
  // scan setup outweigh the shorter chains. One pruned scan + one pushed
  // id-chain — the batch fetch's form — is the measured optimum.)

  /** The plan-free coarse stage ([[ServingScan]]) over `doc`'s live rows:
    * pending soft-deletes never enter a heap.
    */
  private[core] def servingScanCoarse(doc: CatalogDoc, qp: Array[Float],
                                      probes: Array[Int], prelimK: Int)
      : Array[(Long, Double, Int)] =
    ServingScan.coarse(spark, store.servingEpoch(doc), modelBroadcast(doc),
      pendingDeletes(doc).bc, qp, probes, prelimK)

  /** Byte-range floor for the plan-free serving scan's splits —
    * overridable so specs can force multi-range tasks (and the
    * midpoint-rule footer filtering they depend on) on sbt-test-sized
    * files.
    */
  protected def servingScanMinSplitBytes: Long = 4L << 20

  /** Plan-free candidate fetch (Q4) through the same epoch state as
    * [[servingScanCoarse]], so both stages of a query ride the same
    * snapshot rules: the (id, vector, metadata) rows of exactly the
    * candidate ids, driver-local (≤ prelimK rows by the coarse contract).
    */
  private[core] def servingScanFetchRows(doc: CatalogDoc,
                                          candRows: Array[(Long, Double, Int)])
      : Array[(Long, Array[Float], String)] =
    if (candRows.isEmpty) Array.empty // zero-hit: nothing to scan
    else {
      val idsByCluster = candRows.groupBy(_._3)
        .map { case (c, rs) => c -> rs.map(_._1) }
      ServingScan.fetch(spark, store.servingEpoch(doc), idsByCluster)
    }

  /** [[servingScanFetchRows]] as a LOCAL relation: caller predicates and
    * the rerank expressions compose over it exactly as over a scan frame.
    */
  private[core] def servingScanFetch(doc: CatalogDoc,
                                     candRows: Array[(Long, Double, Int)])
      : DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(servingScanFetchRows(doc, candRows).map {
        case (id, v, m) => org.apache.spark.sql.Row(id, v.toSeq, m)
      }: _*), dataSchema)

  /** Driver-side twin of [[rerankFrame]] for ≤ prelimK LOCAL candidate
    * rows: same scoring arithmetic (the dot kernel's double accumulation
    * over float products — [[graft.functions.VectorKernels.dotFF]]),
    * same (cosine desc, id asc) total order (java.lang.Double.compare =
    * Spark's DoubleType sort semantics), same limit-then-rank. Exists
    * because a window+orderBy over a 500-row LOCAL relation still pays a
    * two-stage cluster job (~70 ms at the 35M shape).
    */
  private def rerankLocal(rows: Array[(Long, Array[Float], String)],
                          qn: Array[Float], finalTopK: Int): DataFrame = {
    val scored = rows.map { case (id, v, m) =>
      var s = 0.0
      var i = 0
      val n = v.length
      while (i < n) { s += v(i).toDouble * qn(i).toDouble; i += 1 }
      (id, m, s)
    }
    java.util.Arrays.sort(scored, new java.util.Comparator[(Long, String, Double)] {
      def compare(a: (Long, String, Double), b: (Long, String, Double)): Int = {
        val c = java.lang.Double.compare(b._3, a._3)
        if (c != 0) c else java.lang.Long.compare(a._1, b._1)
      }
    })
    val top = scored.take(finalTopK)
    val schema = StructType(Seq(
      StructField("rank", IntegerType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("metadata", StringType, nullable = true),
      StructField("cosine_similarity", DoubleType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(top.zipWithIndex.map { case ((id, m, s), i) =>
        org.apache.spark.sql.Row(i + 1, id, m, s)
      }: _*), schema)
  }

  /** Coded-table layout sizing at train time — overridable so specs can
    * force a multi-bucket layout on a corpus small enough for `sbt test`
    * (the production rule needs ≥256 MB per extra bucket). A negative
    * result fails the train: there is no layout below shift 0.
    */
  protected def chooseCodedBucketShift(n: Long, nlist: Int, d: Int,
                                       m: Int): Int =
    CodedStore.bucketShift(n, nlist, d, m)

  // ----------------------------------------------------------------- train

  /** Driver bytes a subsample-strategy train may hold to fit on one
    * collected sample ([[IndexFit.fit]]): the db's `maxMemoryUsage`, capped
    * at a quarter of the driver heap and at `spark.driver.maxResultSize`
    * (the sample pass returns its rows as one job's result). Overridable
    * so specs can force the distributed fit.
    */
  protected def localFitBudgetBytes(maxMemoryUsage: Long): Long = {
    val maxResult = spark.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    Seq(maxMemoryUsage, Runtime.getRuntime.maxMemory / 4,
      if (maxResult > 0) maxResult else Long.MaxValue).min
  }

  // test seam — TrainFitJobsSpec marks the end of the fit phase (called on
  // the training thread once the models are fit, before the coded write)
  private[core] var afterFitSeam: () => Unit = () => ()

  /** T1-T19 — build the PCA→IVF→PQ index over the current snapshot and
    * swap it in (mindb.py:231-344). Residual PQ encoding, matching Faiss
    * IVFPQ. No-op below the flat floor (T3, mindb.py:276-287);
    * `minTrainRows` lowers that floor for fixtures/tests only — the
    * reference default stands for real callers.
    *
    * Safe to run CONCURRENTLY with adds/removes on the same db (M5/M6 —
    * the reference's training-thread semantics, fastapi.py:246-311):
    * training reads a PINNED snapshot (file listing frozen at start, plus
    * an `id <= snapshotMaxId` fence); the swap recomputes the churn
    * counters from the then-live rows so mutations that landed mid-train
    * reconcile exactly; and a post-swap drain encodes rows added during
    * training into the new coded table (the reference's
    * `unassigned_vectors` cleanup, fastapi.py:264-287) — after "complete",
    * every live row is servable from the trained index. Status lifecycle
    * via [[trainingStatus]]. `onSnapshot` is a deterministic test seam:
    * called once, right after the snapshot is pinned — mutations made
    * inside it are by construction "during training".
    */
  def train(name: String,
            params: Option[IndexParams] = None,
            useTwoLevelClustering: Option[Boolean] = None,
            kmeansIters: Int = 25,
            maxMemoryUsage: Long = Engine.DefaultMaxMemoryUsage,
            seed: Long = 42L,
            minTrainRows: Int = Heuristics.FlatIndexFloor,
            onSnapshot: () => Unit = () => (),
            onSwapped: () => Unit = () => ()): CatalogDoc =
    claimTraining(name, onSwapped)(trainImpl(name, params,
      useTwoLevelClustering, kmeansIters, maxMemoryUsage, seed, minTrainRows,
      onSnapshot))()

  /** Claim `name`'s training slot now; the returned run is `impl` and the
    * status lifecycle: "trained", reconcile, "complete" — or "failed" for
    * a train that made no index (fastapi.py:288-296) or threw.
    */
  private def claimTraining(name: String, onSwapped: () => Unit)(
      impl: => (CatalogDoc, Boolean, Long, Long)): () => CatalogDoc = {
    val epoch = beginTraining(name)
    val incarnation = scala.util.Try(load(name).createdAt).getOrElse(-1L)
    () =>
      try {
        val (doc, didTrain, snapshotMaxId, reconcileTo) = impl
        if (!didTrain) {
          setTrainStatus(name, epoch, "failed")
          doc
        } else {
          setTrainStatus(name, epoch, "trained")
          onSwapped() // test seam — deterministic swapped-but-draining window
          val out = reconcileAfterTrain(name, snapshotMaxId, reconcileTo)
          setTrainStatus(name, epoch, "complete")
          out
        }
      } catch {
        case e: Throwable => failTrainStatus(name, epoch, incarnation, e); throw e
      }
  }

  /** Failure-path status: a db that no longer exists — or exists only as a
    * NEWER incarnation (dropped and recreated while this train ran; its
    * pinned files vanishing is a typical proximate failure) — gets its
    * entry CLEARED: trainingStatus must read "not started", never a stale
    * "failed" leaked from a previous incarnation. Every genuine failure of
    * a still-live db reports "failed".
    */
  private def failTrainStatus(name: String, epoch: Long, incarnation: Long,
                              e: Throwable): Unit =
    if (e.isInstanceOf[Engine.DroppedDuringTrainingException] ||
        scala.util.Try(load(name).createdAt).getOrElse(-1L) != incarnation)
      clearTrainStatus(name, epoch)
    else setTrainStatus(name, epoch, "failed")

  /** The async training verb (POST /db/{name}/train, fastapi.py:314-331):
    * claims the training slot, runs the train on a background thread, and
    * returns immediately. Progress via [[trainingStatus]]; failures are
    * logged and reported as status "failed" (T20 — the catalog is left
    * untouched). Adds/removes/queries against the db proceed while it
    * runs; join the returned thread to wait for "complete".
    */
  def trainAsync(name: String,
                 params: Option[IndexParams] = None,
                 useTwoLevelClustering: Option[Boolean] = None,
                 kmeansIters: Int = 25,
                 maxMemoryUsage: Long = Engine.DefaultMaxMemoryUsage,
                 seed: Long = 42L,
                 minTrainRows: Int = Heuristics.FlatIndexFloor,
                 onSnapshot: () => Unit = () => (),
                 onSwapped: () => Unit = () => ()): Thread = {
    val run = claimTraining(name, onSwapped)(trainImpl(name, params,
      useTwoLevelClustering, kmeansIters, maxMemoryUsage, seed, minTrainRows,
      onSnapshot))
    val t = new Thread(() => {
      try run()
      catch {
        case e: Throwable =>
          log.warn(s"async train of '$name' failed: ${e.getMessage}")
      }
    }, s"graft-train-$name")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Returns (finalDoc, didTrain, snapshotMaxId, reconcileTo): the swap
    * runs inside the db lock; `reconcileTo` is the highest id assigned
    * when the swap landed — ids in (snapshotMaxId, reconcileTo] were
    * added DURING training and still need encoding into the new coded
    * table (ids above it arrive after the swap and go through the normal
    * A6 incremental-insert path).
    */
  private def trainImpl(name: String,
            params: Option[IndexParams],
            useTwoLevelClustering: Option[Boolean],
            kmeansIters: Int,
            maxMemoryUsage: Long,
            seed: Long,
            minTrainRows: Int,
            onSnapshot: () => Unit): (CatalogDoc, Boolean, Long, Long) = {
    // Pin the training snapshot under the lock: the parquet file listing
    // is frozen when the DataFrame resolves, and the id fence excludes
    // any row a concurrent add assigns after this point.
    val (doc, pinnedFull, snapshotMaxId) = dbLock(name).synchronized {
      val d = load(name)
      (d, snapshot(d).filter(col("id") <= d.maxId), d.maxId)
    }
    onSnapshot() // test seam — deterministic "during training" window
    val table = pinnedFull.select("id", "vector")
    // one job: a Dataset count is a map stage and a result stage
    val n = pinnedFull.select("id").queryExecution.toRdd.count()
    if (n < minTrainRows) return (doc, false, snapshotMaxId, snapshotMaxId) // T3 small-db bypass

    val d = doc.vectorDimension
    // T2 — train validation (input_validation.py:15-51)
    require(d > 0, "no vectors have been added to the database")
    val p = params.getOrElse(Heuristics.defaultIndexParams(d))
    require(p.pcaDimension >= 1, s"pca_dimension is not positive: ${p.pcaDimension}")
    require(p.compressedVectorBytes >= 1,
      s"compressed_vector_bytes is not positive: ${p.compressedVectorBytes}")
    require(p.pcaDimension <= d,
      s"pca_dimension ${p.pcaDimension} is larger than the vector dimension $d")
    if (!p.omitOpq) {
      require(p.opqDimension >= 1, s"opq_dimension is not positive: ${p.opqDimension}")
      require(p.opqDimension <= p.pcaDimension,
        s"opq_dimension ${p.opqDimension} is larger than pca_dimension ${p.pcaDimension}")
      require(p.opqDimension % p.compressedVectorBytes == 0,
        s"opq_dimension ${p.opqDimension} is not divisible by " +
          s"compressed_vector_bytes ${p.compressedVectorBytes}")
    }
    if (p.omitOpq) // PQ trains directly on the PCA output
      require(p.pcaDimension % p.compressedVectorBytes == 0,
        "pca_dimension must be divisible by compressed_vector_bytes")
    val nlist = math.max(1, Heuristics.numClusters(n))
    val nprobe = math.max(1, Heuristics.nProbe(nlist))

    // T7 — strategy chooser (training_utils.py:75-88): two-level when the
    // RAM-capped subsample would leave < 39 vectors/cluster
    val twoLevel = useTwoLevelClustering.getOrElse(
      Heuristics.isTwoLevelClusteringOptimal(maxMemoryUsage, d, n))

    // T9-T15 — PCA (+ OPQ), centroids in PCA space and PQ codebooks on
    // assigned residuals, fit on samples of the pinned rows: in one sample
    // pass on the driver when the sample fits the budget
    val fitted = IndexFit.fit(table,
      IndexFit.Spec(n, d, p, nlist, kmeansIters, seed), twoLevel,
      localFitBudgetBytes(maxMemoryUsage))
    afterFitSeam()

    // T18 — single full pass: project + assign + residual-encode + write
    // the covering coded table (vector + metadata ride along so serving
    // never rescans the base table)
    val model = IndexModel(fitted.pca, fitted.centroids, fitted.pq)
    // the index version is stable for the whole train: the only other
    // writers that bump it (compact, coded-table bin-packing) defer while
    // the status is "in progress"
    val newVersion = doc.indexVersion + 1
    val layout = store.write(pinnedFull, model, name, newVersion, n, nlist, d,
      p.compressedVectorBytes)
    IndexStore.saveModel(spark, doc.indexPath(root, newVersion), model)

    // T19 — atomic swap. Counters are RECOMPUTED from the then-live rows
    // (not carried from train start) so adds/removes that landed during
    // training reconcile exactly: trained_on = snapshot size, removed =
    // snapshot rows no longer live, new = live rows past the snapshot
    // fence (reference counter semantics, mindb.py:459-489 +
    // test_fastapi.py:102-152's 32,000 / 0.9375 assertions).
    dbLock(name).synchronized {
      // same-name is not enough: a drop + recreate during training must
      // not receive the old incarnation's index (the coded table would
      // serve rows the new db never had) — the creation stamp pins it
      if (!Catalog.exists(root, name) ||
          load(name).createdAt != doc.createdAt)
        throw new Engine.DroppedDuringTrainingException(name)
      var cur = load(name)
      val live = snapshot(cur).agg(
        sum(when(col("id") <= snapshotMaxId, 1L).otherwise(0L)),
        sum(when(col("id") > snapshotMaxId, 1L).otherwise(0L))).first()
      val liveTrained = if (live.isNullAt(0)) 0L else live.getLong(0)
      val liveNew = if (live.isNullAt(1)) 0L else live.getLong(1)
      val oldIndexPath = supersededIndexDir(cur)
      val reconcileTo = cur.maxId
      cur = layout(Catalog.withParams(cur, p, nlist, nprobe).copy(
        usedTwoLevel = if (twoLevel) 1 else 0,
        indexVersion = newVersion,
        maxTrainedId = snapshotMaxId,
        numVectorsTrainedOn = n,
        numTrainedVectorsRemoved = n - liveTrained,
        numNewVectors = liveNew))
      saveDoc(cur)
      oldIndexPath.foreach(markSuperseded(_))
      (cur, true, snapshotMaxId, reconcileTo)
    }
  }

  /** Post-swap reconciliation (the reference's `unassigned_vectors` drain
    * + deferred-removal cleanup, fastapi.py:264-287, 215-243): encode the
    * live rows added during training — ids in (snapshotMaxId,
    * reconcileTo] — into the NEW coded table, then apply any compaction
    * the in-progress guard deferred. After this returns, the coded table
    * serves every live row (`n_total == num_vectors` in reference terms).
    */
  private def reconcileAfterTrain(name: String, snapshotMaxId: Long,
                                  reconcileTo: Long): CatalogDoc =
    dbLock(name).synchronized {
      var doc = load(name)
      if (doc.isTrained && reconcileTo > snapshotMaxId) {
        val pending = snapshot(doc)
          .filter(col("id") > snapshotMaxId && col("id") <= reconcileTo)
        store.append(doc, indexModel(doc), pending)
      }
      val physicalRows = doc.maxId + 1
      if (physicalRows > 0 &&
          doc.numPendingDeletes.toDouble / physicalRows >= Engine.CompactionThreshold)
        doc = compact(name)
      // a coded-table bin-pack the in-progress guard deferred is applied
      // here too (both no-op below their thresholds, or re-defer if a
      // SECOND train already claimed the slot during our drain window)
      maybeCompactCoded(name)
      load(name)
    }

  /** The index dir a swap away from `doc` supersedes: its one version
    * dir, which holds the whole coded table. None for an untrained doc.
    */
  private def supersededIndexDir(doc: CatalogDoc): Option[String] =
    if (doc.isTrained) Some(doc.indexPath(root)) else None

  /** Bin-pack the coded table once post-train appends have accreted past
    * its file budget ([[CodedStore.overFileBudget]]): one rewrite into a
    * fresh index version (atomic pointer swap, same machinery as
    * [[compact]]), so the pruned serving scan keeps reading right-sized
    * files no matter how many small adds trickled in. Trained query
    * results are unchanged — the rewrite only rearranges rows into fewer
    * files.
    */
  private def maybeCompactCoded(name: String): Unit = {
    val doc = load(name)
    if (!doc.isTrained) return
    // defers while a train is in flight — same version-allocation rule
    // as compact(); reconcileAfterTrain re-runs this check post-drain
    if (trainingStatus(name) == "in progress") return
    store.overFileBudget(doc).foreach { why =>
      val packed = rewriteIndex(doc, None)
      saveDoc(packed)
      markSuperseded(doc.indexPath(root))
      log.info(s"coded-table compaction: '$name' index v${doc.indexVersion} → " +
        s"v${packed.indexVersion} ($why)")
    }
  }

  /** The whole coded table, minus the ids in `without`, into the next
    * index version ([[CodedStore.rewrite]]), with the unchanged model
    * saved beside it. Returns that doc, unsaved: the caller commits it.
    */
  private def rewriteIndex(doc: CatalogDoc, without: Option[DataFrame]): CatalogDoc = {
    val model = indexModel(doc)
    val next = store.rewrite(doc, without)
    IndexStore.saveModel(spark, next.indexPath(root), model)
    next
  }

  /** Drop unreferenced snapshot/index/deletes versions (everything below
    * the catalog's current pointers). Readers resolve paths through the
    * catalog and the pointer swap is atomic, so only queries PLANNED
    * against an already-replaced version could still want the old files —
    * `graceMillis` protects exactly those: a version directory superseded
    * less recently than the grace window is swept, one replaced within it
    * is retained for in-flight readers (a maintenance scheduler should
    * pass a grace ≥ its longest query). The supersession moment is an
    * EXPLICIT stamp — a `_SUPERSEDED` marker file [[markSuperseded]]
    * writes at every pointer swap — not the dir's mtime, which object
    * stores don't maintain for "directories" at all. A stale dir with no
    * marker (crash between catalog save and marking, or a pre-port
    * table) is marked NOW and collected by a later sweep once its grace
    * elapses. Returns the number of version directories removed.
    */
  def vacuum(name: String, graceMillis: Long = 0L): Int = {
    val doc = load(name)
    val cutoff = System.currentTimeMillis() - graceMillis
    val f = fsFor(new org.apache.hadoop.fs.Path(root))
    def sweep(parent: org.apache.hadoop.fs.Path, prefix: String, current: Int): Int = {
      if (!f.exists(parent)) return 0
      f.listStatus(parent).count { st =>
        val n = st.getPath.getName
        val old = n.startsWith(prefix) &&
          n.stripPrefix(prefix).toIntOption.exists(_ < current)
        val stale = old && supersededAt(f, st.getPath) <= cutoff
        if (stale) f.delete(st.getPath, true)
        stale
      }
    }
    val base = new org.apache.hadoop.fs.Path(root, name)
    sweep(new org.apache.hadoop.fs.Path(base, "data"), "v", doc.dataVersion) +
      sweep(new org.apache.hadoop.fs.Path(base, "index"), "v", doc.indexVersion) +
      sweep(new org.apache.hadoop.fs.Path(base, "deletes"), "d", doc.dataVersion)
  }

  /** The explicit supersession stamp of a version dir: the millis inside
    * its `_SUPERSEDED` marker. A superseded dir missing its marker gets
    * one stamped NOW (and is treated as not-yet-collectable this pass) —
    * self-healing after a crash between the catalog pointer swap and
    * [[markSuperseded]].
    */
  private def supersededAt(f: org.apache.hadoop.fs.FileSystem,
                           dir: org.apache.hadoop.fs.Path): Long = {
    val m = new org.apache.hadoop.fs.Path(dir, Engine.SupersededMarker)
    if (f.exists(m)) {
      val len = f.getFileStatus(m).getLen.toInt
      val buf = new Array[Byte](len)
      val in = f.open(m)
      try in.readFully(0L, buf) finally in.close()
      new String(buf, java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    } else {
      Catalog.writeString(f, m, System.currentTimeMillis().toString)
      Long.MaxValue
    }
  }

  /** Write the explicit supersession stamp (the vacuum grace clock) into
    * each just-replaced version dir.
    */
  private def markSuperseded(paths: String*): Unit = paths.foreach { p =>
    val dir = new org.apache.hadoop.fs.Path(p)
    val f = fsFor(dir)
    if (f.exists(dir))
      Catalog.writeString(f, new org.apache.hadoop.fs.Path(dir, Engine.SupersededMarker),
        System.currentTimeMillis().toString)
  }

  // ------------------------------------------------------------- info/misc

  /** M2 — coverage ratio from catalog counters. */
  def coverageRatio(name: String): Double = {
    val doc = load(name)
    Heuristics.coverageRatio(doc.numVectorsTrainedOn, doc.numNewVectors,
      doc.numTrainedVectorsRemoved)
  }

  /** M9 — info endpoint parity (fastapi.py:75-105). */
  def info(name: String): Map[String, Any] = {
    val doc = load(name)
    Map(
      "name" -> doc.name,
      "num_vectors" -> count(name),
      "vector_dimension" -> doc.vectorDimension,
      "max_id" -> doc.maxId,
      "trained" -> doc.isTrained,
      "max_trained_id" -> doc.maxTrainedId,
      "num_vectors_trained_on" -> doc.numVectorsTrainedOn,
      "num_trained_vectors_removed" -> doc.numTrainedVectorsRemoved,
      "num_new_vectors" -> doc.numNewVectors,
      "num_pending_deletes" -> doc.numPendingDeletes,
      "coverage_ratio" -> coverageRatio(name),
      "num_clusters" -> doc.numClusters,
      "n_probe" -> doc.nProbe,
      // M8 — reference memory-model estimate (cache/cache.py:105-138)
      "index_memory_bytes" -> MemoryModel.estimate(
        hasVectors = doc.maxId >= 0, isTrained = doc.isTrained,
        nTotal = count(name), vectorDimension = doc.vectorDimension,
        compressedVectorBytes = doc.compressedVectorBytes))
  }

  /** M3/M4 — auto-train triggers; runs `train` when due. Returns true if a
    * (re)train ran.
    */
  def maybeAutoTrain(name: String, kmeansIters: Int = 25): Boolean = {
    val doc = load(name)
    val n = count(name)
    val inProgress = trainingStatus(name) == "in progress"
    val due =
      Heuristics.needsInitialTraining(n, !doc.isTrained, inProgress) ||
        (doc.isTrained && Heuristics.needsRetraining(n, coverageRatio(name),
          inProgress))
    if (due) {
      // two sweeps can both compute due=true before either claims the
      // slot — the loser observes the documented Boolean, not the claim
      // rejection (the winner's train covers the need)
      try { train(name, kmeansIters = kmeansIters); true }
      catch { case _: Engine.AlreadyTrainingException => false }
    } else false
  }

  /** All databases under this engine root (catalog-backed directories). */
  def listDatabases(): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(root)
    val f = fsFor(base)
    if (!f.exists(base)) return Seq.empty
    f.listStatus(base).iterator
      .map(_.getPath.getName)
      .filter(Catalog.exists(root, _))
      .toSeq.sorted
  }

  /** The maintenance scheduler verb (reference `find_indexes_to_train`,
    * api/fastapi.py:409-438): one pass over every database under the root
    * that (re)trains dbs whose coverage/size thresholds are due (M3/M4),
    * applies any pending-delete compaction past the threshold, and vacuums
    * version directories older than `vacuumGraceMillis`. Per-db failures
    * are logged and skipped — one broken db must not starve the sweep.
    */
  def maintenanceSweep(vacuumGraceMillis: Long = 3600L * 1000,
                       compactionThreshold: Double = Engine.CompactionThreshold,
                       kmeansIters: Int = 25)
      : Seq[Engine.SweepResult] =
    listDatabases().flatMap { name =>
      try {
        val trained = maybeAutoTrain(name, kmeansIters)
        val doc = load(name)
        val physicalRows = doc.maxId + 1
        val compacted = physicalRows > 0 &&
          doc.numPendingDeletes.toDouble / physicalRows >= compactionThreshold
        if (compacted) compact(name)
        val vacuumed = vacuum(name, vacuumGraceMillis)
        Some(Engine.SweepResult(name, trained, compacted, vacuumed))
      } catch {
        case scala.util.control.NonFatal(e) =>
          log.warn(s"maintenance sweep: '$name' failed: ${e.getMessage}")
          None
      }
    }

  // --------------------------------------------------------------- private

  private[core] def indexModel(doc: CatalogDoc): IndexModel =
    indexCache.getOrElseUpdate((doc.name, doc.indexVersion)) {
      IndexStore.loadModel(spark, doc.indexPath(root))
    }

  /** The reusable per-version model broadcast for the serving path; stale
    * versions of the same db are unpersisted when a newer one is first
    * queried (train/compact bump the version). Only versions BELOW the
    * caller's are dropped: an in-flight query that loaded its doc before
    * a concurrent train finished must never unpersist the newer version's
    * broadcast (it may re-register its own old version — harmless, the
    * next new-version query sweeps it).
    */
  private[core] def modelBroadcast(
      doc: CatalogDoc): org.apache.spark.broadcast.Broadcast[IndexModel] = {
    val bc = modelBcCache.getOrElseUpdate((doc.name, doc.indexVersion),
      spark.sparkContext.broadcast(indexModel(doc)))
    // an in-flight query racing delete() could re-register after delete's
    // sweep — with no future query to sweep again, that broadcast would
    // leak for the SparkContext's lifetime; re-check and self-evict
    if (!Catalog.exists(root, doc.name))
      dropModelBroadcasts(doc.name, keepBelow = Int.MaxValue)
    else dropModelBroadcasts(doc.name, keepBelow = doc.indexVersion)
    bc
  }

  /** Unpersist (not destroy — lazily re-fetchable by in-flight plans)
    * cached model broadcasts for `name` with version < `keepBelow`; the
    * store's cached read state of those versions goes with them.
    */
  private def dropModelBroadcasts(name: String, keepBelow: Int): Unit =
    modelBcCache.keys
      .filter { case (n, v) => n == name && v < keepBelow }
      .foreach { k =>
        modelBcCache.remove(k).foreach(_.unpersist(false))
        store.evict(k)
      }

}

object Engine {

  /** The query normalizer of every trained serving path. */
  private[graft] def normalizeLocal(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0) v else v.map(x => (x / n).toFloat)
  }

  /** One deletes generation of a db: the broadcast of its sorted pending
    * soft-deleted ids (see `Engine.pendingDeletes`).
    */
  private[core] final case class PendingDeletes(gen: (Long, Int, Long),
      bc: org.apache.spark.broadcast.Broadcast[Array[Long]])

  /** Reference default `max_memory_usage` = 4 GiB (mindb.py:42). Drives the
    * T7 strategy chooser only — Spark spills instead of enforcing it.
    */
  val DefaultMaxMemoryUsage: Long = 4L * 1024 * 1024 * 1024

  /** The message of a `raise_error` in `e`'s cause chain: a failed job
    * wraps the task's error.
    */
  private def userRaisedMessage(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).take(16).takeWhile(_ != null).collectFirst {
      case t: org.apache.spark.SparkThrowable if t.getCondition == "USER_RAISED_EXCEPTION" =>
        Option(t.getMessageParameters.get("errorMessage")).getOrElse(t.getMessage)
    }

  /** Target bytes per [[ServingScan]] task — 512 MB, the ccp6-measured
    * split packing optimum for the per-query coarse scans
    * (evalruns_r15/ccp6_{def,512m}.log: fewer reader inits, still ≥2
    * tasks per bucket at the measured geometries).
    */
  val ServingScanTaskBytes: Long = 512L << 20

  /** Marker file carrying a version dir's explicit supersession stamp
    * (epoch millis, written at the pointer swap that replaced it). The
    * `_` prefix keeps it invisible to Spark/parquet readers (the
    * `_SUCCESS` convention); being a FILE with the stamp as content, it
    * works on object stores where directory mtimes don't exist.
    */
  val SupersededMarker: String = "_SUPERSEDED"

  /** Compact (physical rewrite) once pending soft-deletes exceed this
    * fraction of the table — bounds both query-side anti-join size and
    * candidate shrinkage in the trained path.
    */
  val CompactionThreshold: Double = 0.1

  /** (The pre-r15 `MaxWidenedPreliminaryK` widening ceiling is gone with
    * the geometric widening loop itself — the pushed under-fill round is
    * bounded by `preliminaryTopK` per partition by construction.)
    *
    * A compiled metadata predicate that must stay on the driver: it
    * wraps NONDETERMINISTIC expression state that must not serialize
    * into a task closure (a deserialized copy is uninitialized, and
    * re-initializing would replay its sequence). The filtered
    * under-fill guard serves these via the exact flat scan — where
    * Spark owns per-row evaluation — instead of the pushed round.
    */
  private[core] final class DriverOnlyPredicate(f: (Long, String) => Boolean)
    extends ((Long, String) => Boolean) {
    def apply(id: Long, meta: String): Boolean = f(id, meta)
  }

  /** Driver-side candidate-row ceiling for one trained query batch
    * (q·prelimK). ~2M rows ≈ a few hundred MB of Rows — past it the
    * batch splits into chunks rather than OOM the driver.
    */
  val MaxDriverBatchCandidates: Long = 2000000L

  /** Ceiling on post-prepare appended rows a [[PreparedIndex]] absorbs
    * into its driver-local side buffer (at d=768 covering rows, 200k ≈
    * 600 MB). Past it the handle reports stale and serves via fallback —
    * the caller should re-prepare.
    */
  val MaxPreparedSideRows: Int = 200000

  /** Task count of a [[PreparedIndex]]'s NARROW serving shape — the
    * coalesced view of its cached blocks that serves under concurrency
    * (see the adaptive-shape note there).
    */
  def preparedNarrowParts(defaultParallelism: Int): Int =
    math.max(4, defaultParallelism / 4)

  /** In-flight servings at which a [[PreparedIndex]] switches to the
    * narrow shape; below it a lone query keeps every core (wide shape).
    */
  val PreparedNarrowDepth: Int = 3

  /** Byte ceiling on a [[PreparedIndex]]'s pinned blocks for the
    * driver-local serve (no Spark job per query); above it every serve
    * runs as a job over the cached blocks.
    */
  val PreparedLocalMaxBytes: Long = 256L << 20

  /** Debounce window for a [[PreparedIndex]]'s adds delta-refresh: at
    * most one side-buffer collect job per window under continuous ingest
    * (a query inside the window serves a ≤window-old view of the
    * APPENDS; versions and removes are still checked per query). 0 =
    * refresh on every drift.
    */
  val PreparedAddsRefreshIntervalMs: Long = 100L

  /** TTL for the routed-query serving-doc cache: entry catalog reads may
    * be this stale for CROSS-driver mutations only (same-driver writes
    * invalidate; version moves are re-checked fresh after the serving
    * job either way).
    */
  val ServingDocTtlNanos: Long = 100L * 1000 * 1000

  /** Per-db outcome of one [[Engine.maintenanceSweep]] pass. */
  final case class SweepResult(db: String, trained: Boolean,
                               compacted: Boolean, vacuumed: Int)

  /** GET /db/view_cache response shape (fastapi.py:447-457). */
  final case class CacheView(cachedDbs: Seq[String], currentMemoryUsage: Long,
                             maxMemoryUsage: Long)

  /** The double-train rejection (fastapi.py:314-326) — a typed rejection
    * so callers (maybeAutoTrain, schedulers) can distinguish "someone
    * already trains this db" from a genuine argument error.
    */
  final class AlreadyTrainingException(msg: String)
    extends IllegalArgumentException(msg)

  /** The db was dropped (or dropped and recreated) while its train was in
    * flight — the train aborts and clears its status entry (the reference's
    * cleanup re-checks existence, fastapi.py:218-222).
    */
  final class DroppedDuringTrainingException(name: String)
    extends IllegalStateException(s"'$name' was dropped during training")

  /** Actual driver bytes of a loaded IndexModel (centroids + codebooks +
    * PCA matrix), the LRU eviction cost.
    */
  def modelBytes(m: IndexModel): Long = {
    val centroids = m.centroids.length.toLong *
      (if (m.centroids.isEmpty) 0 else m.centroids(0).length) * 4L
    val codebooks = m.pq.m.toLong * 256L * m.pq.subDim * 4L
    val pca = m.pca.mean.length.toLong * 8L +
      m.pca.components.length.toLong *
        (if (m.pca.components.isEmpty) 0 else m.pca.components(0).length) * 8L
    centroids + codebooks + pca + 64L
  }

  /** In-memory index artifact: PCA model + IVF centroids (PCA space) + PQ
    * codebooks. Total size O(d² + nlist·p + m·256·subdim) — driver/broadcast
    * scale, independent of data size.
    */
  final case class IndexModel(pca: PcaModel, centroids: Array[Array[Float]],
                              pq: PqModel) {

    /** Flat row-major mirror of the centroid matrix for the SIMD probe
      * kernel — built lazily per JVM (never serialized with the model;
      * each executor/driver that selects probes pays the copy once).
      * Duplicates centroid memory (~200 MB at the 100M heuristic
      * geometry) only where probe selection actually runs.
      */
    @transient private lazy val flatCentroids: graft.index.FlatCentroids =
      graft.index.FlatCentroids.build(centroids)

    /** Probe selection: the nprobe nearest centroids by (L2², id) —
      * [[graft.index.FlatCentroids.nearestKFloat]]: a SIMD distance pass
      * + margin-selected exact re-score where `jdk.incubator.vector` is
      * present, the original bounded-heap scalar loop otherwise. Both
      * produce bit-identical probe lists (FlatCentroidsSpec differential
      * + every trained oracle replay). At the reference's heuristic
      * ceiling (nlist = 200k for 100M rows, training_utils.py:5-9) this
      * runs on the driver per query and was the profiled floor of the
      * 100M prepared p50 (~O(nlist·p) scalar per query, VERDICT r10).
      */
    def nearestClusters(qp: Array[Float], nprobe: Int): Array[Int] =
      flatCentroids.nearestKFloat(qp, nprobe)

    /** The ADC kernel's tables ([[graft.index.AdcKernel]]) — built
      * lazily per JVM like [[flatCentroids]], so a handle or a broadcast
      * widens the codebooks (m·256·subDim doubles) once; centroids are
      * widened per probe, not kept.
      */
    @transient lazy val adcTables: graft.index.AdcTables =
      new graft.index.AdcTables(centroids, pq)
  }
}
