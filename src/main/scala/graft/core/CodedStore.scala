package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.catalog.CatalogDoc
import graft.core.Engine.IndexModel
import graft.index.Coder

/** The PQ-coded covering table of a trained db, and the one module that
  * knows its on-disk format: IVF inverted lists as parquet, `2^shift`
  * consecutive clusters per `cluster_bucket` hive dir, rows sorted by
  * `cluster_id` within each file ([[CodedStore.bucketShift]]). The
  * whole table lives in ONE index version dir, `index/v{indexVersion}`:
  * a train writes it there, and a compaction or bin-pack rewrites all of
  * it into the next version ([[rewrite]]), as the reference rewrites its
  * index to remove rows.
  *
  * [[Engine]] keeps the lifecycle, locks, catalog commits, routing and
  * the pending soft-deletes the reads apply (`deletes`). Where a commit
  * changes the layout fields, the store returns the updated doc and the
  * engine saves it. The engine's protected seams arrive as functions.
  */
private[core] final class CodedStore(
    spark: SparkSession, root: String,
    deletes: CatalogDoc => DataFrame,
    chooseShift: (Long, Int, Int, Int) => Int,
    shuffleGroupBytes: () => Long,
    probePushChunk: () => Int,
    maxChunkedProbePush: Int => Int,
    servingScanMinSplitBytes: () => Long) {
  import CodedStore._

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def fsFor(p: Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def codedDir(name: String, version: Int): String =
    s"$root/$name/index/v$version/coded"

  // The Catalyst reads of the table (the batch and filtered paths, the
  // compaction rewrite) filter with `cluster_id IN (…)`; a pushed In is
  // what lets parquet page stats prune the cluster_id-sorted files.
  // Spark's default threshold (10) never pushes a probe list — but the
  // push compiles to a LEFT-NESTED OR CHAIN whose evaluation recurses once
  // per value, so a large threshold is a StackOverflowError at scale
  // (measured: a 40k-value probe-union filter killed every scan task at
  // 35M/nlist-91k). 512 keeps the chain shallow; [[prunedLive]] chunks
  // bigger probe lists into ≤probePushChunk-value disjoint branches.
  spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "512")
  // Keep generated code LITERAL-FREE for list predicates: every batch
  // carries fresh probe/candidate-id lists, and both the small-list `In`
  // codegen and `InSet`'s switch form inline the values into the
  // generated source — a Janino recompile per call (and per partition-
  // prune) instead of a cache hit. Converting at ≥2 values and disabling
  // the switch puts the values in `references` (the source text is
  // stable), trading a hash-set probe per row — noise next to the scan —
  // for zero steady-state compilation on these paths.
  spark.conf.set("spark.sql.optimizer.inSetConversionThreshold", "1")
  spark.conf.set("spark.sql.optimizer.inSetSwitchThreshold", "0")

  /** Cached table frame per (db, indexVersion): the frame owns its
    * resolved FileIndex, so the partition-directory listing happens once
    * per version instead of on every query. Invalidated on same-version
    * appends (new files) and evicted with the engine's model broadcasts.
    */
  private val frameCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int), DataFrame]

  /** [[ServingScan.Epoch]] per (db, indexVersion) — the plan-free coarse
    * scan's amortized driver state (one conf broadcast, one bucket→file
    * listing). Same keys and invalidation as the frame cache (the
    * listing has exactly the cached FileIndex's staleness rules,
    * including the same-version post-train append).
    */
  private val epochCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int), ServingScan.Epoch]

  /** Drop every cached read state of one (db, indexVersion). */
  def evict(k: (String, Int)): Unit = {
    frameCache.remove(k)
    epochCache.remove(k).foreach(_.close())
  }

  /** (bucket, dir) of every bucket dir of `doc`'s table, sorted by
    * bucket. A bucket with no rows never materialized a dir.
    */
  private def bucketDirs(doc: CatalogDoc): Seq[(Int, Path)] = {
    val base = new Path(codedDir(doc.name, doc.indexVersion))
    val f = fsFor(base)
    if (!f.exists(base)) Seq.empty
    else f.listStatus(base).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("cluster_bucket="))
        n.stripPrefix("cluster_bucket=").toIntOption.map(_ -> st.getPath)
      else None
    }.sortBy(_._1)
  }

  /** The table as ONE DataFrame (a whole-dir read of its version),
    * cached per (db, indexVersion).
    */
  def frame(doc: CatalogDoc): DataFrame =
    frameCache.getOrElseUpdate((doc.name, doc.indexVersion),
      spark.read.schema(codedSchema)
        .parquet(codedDir(doc.name, doc.indexVersion)))

  /** The per-chunk branch plans of the pruned scan: each chunk's
    * `Filter(In(cluster_id), Filter(In(cluster_bucket), coded))` over the
    * cached analyzed base plan. Built as raw LogicalPlans and analyzed
    * once per consumer (Bridge.ofRows) — the DataFrame-API fold analyzed
    * the accumulated tree at every `.filter`/`.union`, O(chunks²)
    * analyzer passes ≈ 40 ms/query at the 8-chunk 35M shape
    * (PLANS.md, round-14 serving-floor findings).
    */
  private def branchPlans(doc: CatalogDoc, probes: Array[Int])
      : IndexedSeq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{In => ExprIn, Literal => ExprLit}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan}
    val shift = doc.codedBucketShift
    val basePlan = frame(doc).queryExecution.analyzed
    val bucketAttr = basePlan.output.find(_.name == "cluster_bucket").get
    val clusterAttr = basePlan.output.find(_.name == "cluster_id").get
    def branchPlan(chunk: Array[Int]): LogicalPlan =
      LFilter(
        ExprIn(clusterAttr, chunk.toIndexedSeq.map(v => ExprLit(v))),
        LFilter(
          ExprIn(bucketAttr,
            chunk.map(_ >>> shift).distinct.toIndexedSeq.map(v => ExprLit(v))),
          basePlan))
    val sorted = probes.sorted
    if (sorted.length <= maxChunkedProbePush(doc.numClusters))
      sorted.grouped(probePushChunk()).map(branchPlan).toIndexedSeq
      // (r15 negative result, evalruns_r15/ccp5_bucketbranch.log:
      // splitting each chunk into a UNION of per-bucket branch Filters —
      // so each file's reader serializes only its own ~79-term In-chain
      // instead of the chunk's 445 — did NOT move the concurrent scan
      // (167→177 ms) and ADDED ~70 ms of per-query union planning. The
      // coarse wall is latency-bound on job/task scheduling, not
      // chain-size-bound.)
    else IndexedSeq(branchPlan(sorted)) // row-level only; bucket pruning still applies
  }

  /** The live rows of the probed clusters as a Catalyst frame: one
    * chunked-union scan (bucket dirs pruned, the probe In pushed to
    * parquet) minus pending soft-deletes (D2 — the index never serves dead
    * rows; the deletes side is broadcast-small by the compaction
    * threshold). The batch path and the single query's pushed under-fill
    * round read through it; a single query's first coarse and fetch
    * stages read the same live rows through [[ServingScan]].
    */
  def prunedLive(doc: CatalogDoc, probes: Array[Int]): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Union => LUnion}
    val plans = branchPlans(doc, probes)
    val rows = Bridge.ofRows(spark,
      if (plans.length == 1) plans.head else LUnion(plans))
    if (doc.numPendingDeletes == 0) rows
    else rows.join(broadcast(deletes(doc)), Seq("id"), "left_anti")
  }

  /** The plan-free scan's epoch for `doc`, with a race-safe build:
    * TrieMap.getOrElseUpdate is not atomic for the builder's side
    * effects, so two cold-epoch queries could each broadcast a Hadoop
    * conf and leak the loser's (ADVICE r17). Cold or stale-stamped
    * builds serialize on the cache monitor — a once-per-epoch event, so
    * contention is irrelevant and the loser's broadcast never exists.
    * Closing a replaced epoch under in-flight queries is safe:
    * unpersist(false) only drops executor copies; the broadcast value
    * re-ships lazily. An epoch is stale when the doc's `maxId` moved
    * ([[ServingScan.Epoch]]'s stamp): a cross-driver add surfaces through
    * the TTL'd doc re-read, while same-driver writers [[evict]] eagerly.
    */
  def servingEpoch(doc: CatalogDoc): ServingScan.Epoch = {
    val k = (doc.name, doc.indexVersion)
    epochCache.get(k) match {
      case Some(e) if e.stamp == doc.maxId => e
      case _ => epochCache.synchronized {
        epochCache.get(k) match {
          case Some(e) if e.stamp == doc.maxId => e
          case stale =>
            stale.foreach(_.close())
            val built = buildEpoch(doc)
            epochCache.put(k, built)
            built
        }
      }
    }
  }

  private def buildEpoch(doc: CatalogDoc): ServingScan.Epoch = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cluster_id", IntegerType, nullable = false),
      StructField("code", ArrayType(IntegerType, containsNull = false),
        nullable = false)))
    // cluster_id rides in the FETCH projection even though the caller
    // only needs (id, vector, metadata): parquet's column-index filter
    // treats a predicate column missing from the projection as "not in
    // file" and returns EMPTY row ranges — the same reason Spark's scans
    // always read their filter columns
    val fetchSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("vector", ArrayType(FloatType, containsNull = false),
        nullable = false),
      StructField("metadata", StringType, nullable = true),
      StructField("cluster_id", IntegerType, nullable = false)))
    ServingScan.buildEpoch(spark, doc.codedBucketShift, schema, fetchSchema,
      bucketDirs(doc), Engine.ServingScanTaskBytes, servingScanMinSplitBytes(),
      doc.maxId)
  }

  /** T18 — fused project+assign+residual+PQ-encode (broadcast kernel,
    * plan size O(1) in nlist/m) of the train snapshot into index version
    * `version`, carrying the covering columns (vector, metadata). The
    * layout is sized here; the returned function sets the layout fields
    * the train swap commits.
    *
    * DISK ENVELOPE (r15): the bucket repartition shuffles the full
    * covering rows — at 768-d that is ~3.2 KB/row of incompressible
    * float bytes ON TOP of the input table and the final parquet, which
    * is what ENOSPC'd the r14 10M×768 run (~11 GB scratch per M rows,
    * EVAL_r14). When the covering estimate exceeds the shuffle-group
    * threshold ([[CodedShuffleGroupBytes]]) the write splits into BUCKET
    * GROUPS: each group's job re-runs the (deterministic) assign+encode
    * projection and shuffles only its own buckets' rows, so peak shuffle
    * scratch is ~1/groups of the table. Costs `groups` extra scans +
    * assign passes of the input (~10-20% of train at the 768-d geometry)
    * only when the one-shot form would threaten the disk quota; layout,
    * file count, and per-bucket row order are identical to the one-shot
    * write (each bucket is written by exactly one group, same bucket
    * partition count, same sortWithinPartitions).
    */
  def write(rows: DataFrame, model: IndexModel, name: String, version: Int,
            n: Long, nlist: Int, d: Int, m: Int): CatalogDoc => CatalogDoc = {
    val shift = chooseShift(n, nlist, d, m)
    if (shift < 0)
      throw new IllegalStateException(s"coded layout sizing for '$name' " +
        s"returned shift $shift; only the bucketed layout (shift >= 0) exists")
    val path = codedDir(name, version)
    // covering-row estimate: id+overheads ~16 B, 4-byte floats, ~96 B
    // code+metadata
    val estBytes = n * (16L + 4L * d + 96L)
    val groupBytes = shuffleGroupBytes()
    val buckets = bucketCount(nlist, shift)
    val groups =
      if (estBytes <= 0) 1
      else math.min(buckets.toLong,
        (estBytes + groupBytes - 1) / groupBytes).toInt
    if (groups <= 1)
      writeRows(assignEncode(rows, model), shift, nlist, path, "overwrite")
    else {
      log.info(s"coded write in $groups bucket groups " +
        s"(~${estBytes / (1 << 30)} GiB covering bytes, $buckets buckets)")
      val baseline = shuffleScratchBytes()
      (0 until groups).foreach { g =>
        val encoded = assignEncode(rows, model)
        val inGroup = encoded.filter(
          (expr(s"cluster_id div ${1L << shift}") % groups).cast("int") === g)
        writeRows(inGroup, shift, nlist, path,
          if (g == 0) "overwrite" else "append")
        // a group's exchange files linger until its ShuffleDependency is
        // GC'd and the (async) ContextCleaner removes them — AWAIT the
        // drain before the next group's shuffle starts, else the two
        // exchanges coexist and the documented ~1/groups peak-scratch
        // envelope (the whole point of grouping) is silently void
        // (ADVICE r15: gc() alone only NUDGED the cleaner). Bounded: on
        // timeout we log and proceed rather than hang the train.
        if (g < groups - 1) awaitShuffleDrain(baseline)
      }
    }
    _.copy(codedBucketShift = shift)
  }

  /** Total bytes of shuffle files under this context's block-manager
    * scratch dirs (`spark.local.dir`, default `java.io.tmpdir` —
    * local-mode layout: each dir holds `blockmgr-<uuid>` trees with
    * `shuffle_*.{data,index}` leaves). Racy-by-design: files vanishing
    * mid-walk read as 0. CLUSTER CAVEAT: this walks the DRIVER's local
    * dirs only — in local mode that is every shuffle file; on a real
    * cluster the executors hold the shuffle files and this undercounts,
    * so [[awaitShuffleDrain]] degrades to the gc-nudge best-effort
    * there (the bounded timeout guarantees progress either way; a
    * cluster deployment that needs the strict envelope should gate on
    * executor disk metrics instead).
    */
  private def shuffleScratchBytes(): Long = {
    def sum(f: java.io.File): Long = {
      val kids = f.listFiles()
      if (kids == null) // plain file (or vanished dir)
        if (f.getName.startsWith("shuffle_")) f.length() else 0L
      else kids.foldLeft(0L)((acc, k) => acc + sum(k))
    }
    spark.sparkContext.getConf
      .get("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .split(",").iterator.map(_.trim).filter(_.nonEmpty)
      .flatMap { d =>
        val kids = new java.io.File(d).listFiles()
        if (kids == null) Iterator.empty
        else kids.iterator.filter(f => f.getName.startsWith("blockmgr-"))
      }.foldLeft(0L)((acc, bm) => acc + sum(bm))
  }

  /** Wait (bounded) until shuffle scratch drains back to ~`baseline` —
    * GC makes the dropped group's ShuffleDependency collectable, the
    * ContextCleaner then deletes its files asynchronously; we poll the
    * dirs because the cleaner exposes no completion signal. The slack
    * absorbs unrelated concurrent jobs' scratch; on timeout (a pinned
    * reference, a busy cleaner queue) we log loudly and proceed — the
    * envelope degrades to the pre-await best-effort rather than the
    * train hanging.
    */
  private def awaitShuffleDrain(baseline: Long,
                                timeoutMs: Long = 120000L): Unit = {
    val slack = 256L << 20
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var cur = shuffleScratchBytes()
    // One gc() makes the dropped ShuffleDependency collectable; the
    // ContextCleaner's deletion is then async, so the wait is for the
    // cleaner, not for more gcs. Nudge again only on a backed-off
    // cadence (1 s, 2 s, 4 s, ... capped at 15 s) — a 200 ms gc loop
    // here meant up to 600 forced full GCs per group on a large heap
    // (ADVICE r16), stalling the very cleaner thread we're waiting on.
    var nextGcNanos = 0L
    var gcBackoffMs = 1000L
    while (cur > baseline + slack && System.nanoTime() < deadline) {
      if (System.nanoTime() >= nextGcNanos) {
        System.gc()
        nextGcNanos = System.nanoTime() + gcBackoffMs * 1000000L
        gcBackoffMs = math.min(gcBackoffMs * 2, 15000L)
      }
      Thread.sleep(200)
      cur = shuffleScratchBytes()
    }
    if (cur > baseline + slack)
      log.warn(s"grouped coded write: shuffle scratch still " +
        s"~${cur >> 20} MiB (baseline ${baseline >> 20} MiB) after " +
        s"$timeoutMs ms - proceeding; the next group's exchange may " +
        "stack on the previous one's")
  }

  /** The one coded-table writer: `2^shift` consecutive clusters share one
    * `cluster_bucket` hive dir; rows sort by `cluster_id` within each
    * file so parquet stats prune inside a bucket. File count tracks data
    * bytes (≈[[TargetCodedFileBytes]] each), not nlist — one dir per
    * cluster laid down 78,969 ~125 KB files at nlist 91k (EVAL_r09), a
    * small-file storm per query and an object-store bomb at 100 TB.
    */
  private def writeRows(coded: DataFrame, shift: Int, nlist: Int,
                        path: String, mode: String): Unit =
    coded.drop("cluster_bucket")
      .withColumn("cluster_bucket",
        expr(s"cluster_id div ${1L << shift}").cast("int"))
      .repartition(bucketCount(nlist, shift), col("cluster_bucket"))
      .sortWithinPartitions("cluster_bucket", "cluster_id")
      .write.mode(mode)
      // Page granularity IS the read precision of this layout: the
      // column index prunes row-RANGES at cluster_id-page granularity,
      // and page SIZE alone leaves int pages holding ~16k values
      // (~42 clusters at the 35M geometry — measured: page pruning
      // passed 81% of rows and the single-query exec p50 regressed
      // 1.3 s → 1.7 s). The ROW-COUNT limit is the effective knob:
      // 512-row pages ≈ 1-2 clusters per cluster_id page, so a pushed
      // probe-In reads ~the probed clusters' rows — per-cluster-dir
      // read precision from ~200x fewer files. Costs page-header
      // overhead on this table only (CodedLayoutSpec asserts the
      // granularity actually lands on disk).
      .option("parquet.page.size", (64 * 1024).toString)
      .option("parquet.page.row.count.limit", "512")
      .partitionBy("cluster_bucket").parquet(path)

  /** Incremental insert (A6): the encoded rows append to the table's
    * own version dir.
    */
  def append(doc: CatalogDoc, model: IndexModel, rows: DataFrame): Unit = {
    writeRows(assignEncode(rows, model), doc.codedBucketShift,
      math.max(1, doc.numClusters), codedDir(doc.name, doc.indexVersion),
      "append")
    // same-version append: the cached frame's FileIndex is now stale
    evict((doc.name, doc.indexVersion))
  }

  /** Parquet files under a directory (recursive; 0 if absent). */
  private def countParquetFiles(dir: Path): Int = {
    val f = fsFor(dir)
    if (!f.exists(dir)) return 0
    var n = 0
    val it = f.listFiles(dir, true)
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** Why the table needs a bin-pack, or None: post-train appends lay
    * down one file-set per touched bucket, and past
    * [[CodedFilesPerCluster]] files per bucket the pruned scan becomes a
    * small-file storm.
    */
  def overFileBudget(doc: CatalogDoc): Option[String] = {
    val units = bucketCount(doc)
    val files = countParquetFiles(new Path(codedDir(doc.name, doc.indexVersion)))
    if (files <= CodedFilesPerCluster * units) None
    else Some(s"$files files exceeded $CodedFilesPerCluster×$units")
  }

  /** The one rewrite of the table: all of it, minus the rows whose id is
    * in `without`, into right-sized files under the next index version.
    * A delete compaction passes its pending deletes; a bin-pack passes
    * None, so rows only move between files and trained query results are
    * unchanged. Every trained table lives in exactly one version dir, so
    * even a compaction whose deletes fall in a few buckets rewrites them
    * all. Returns the doc at `indexVersion + 1`.
    */
  def rewrite(doc: CatalogDoc, without: Option[DataFrame]): CatalogDoc = {
    val next = doc.copy(indexVersion = doc.indexVersion + 1)
    val live = without.fold(frame(doc))(d =>
      frame(doc).join(broadcast(d), Seq("id"), "left_anti"))
    writeRows(live, doc.codedBucketShift, math.max(1, doc.numClusters),
      codedDir(doc.name, next.indexVersion), "overwrite")
    next
  }
}

object CodedStore {

  /** (id, vector, metadata) rows → covering coded rows
    * (id, vector, metadata, code, cluster_id): PCA apply, nearest
    * centroid and residual PQ encode in ONE `mapPartitions` over Catalyst
    * rows. A vector is read as floats through `ArrayData` and the code
    * leaves as an `UnsafeArrayData`; no Row encoder runs on either side.
    * The arithmetic is per row and in the same order as
    * [[Coder.pcaApply]] (or the plain float→double cast of an identity
    * model), [[graft.index.FlatCentroids.nearestBatch]] over
    * [[Coder.BatchRows]]-row chunks and [[Coder.encodeResidual]], so the
    * codes do not depend on how the rows are partitioned.
    */
  private[graft] def assignEncode(rows: DataFrame, model: IndexModel): DataFrame = {
    val sc = rows.sparkSession.sparkContext
    val bcP =
      if (model.pca.isIdentity) None
      else Some(sc.broadcast((model.pca.mean, model.pca.components)))
    val bcC = sc.broadcast(graft.index.FlatCentroids.build(model.centroids))
    val bcB = sc.broadcast(model.pq.codebooks)
    val subDim = model.pq.subDim
    val in = rows.select("id", "vector", "metadata")
    val schema = in.schema
      .add("code", ArrayType(IntegerType, containsNull = false), nullable = false)
      .add("cluster_id", IntegerType, nullable = false)
    val coded = in.queryExecution.toRdd.mapPartitions[InternalRow] { it =>
      val pca = bcP.map(_.value)
      // the scan reuses one row object: each buffered row is a copy
      it.map(_.copy()).grouped(Coder.BatchRows).flatMap { chunk =>
        val ci = bcC.value
        val qs = chunk.iterator.map { r =>
          val v = r.getArray(1).toFloatArray()
          pca match {
            case Some((mean, comps)) => Coder.pcaApply(mean, comps, i => v(i))
            case None =>
              val out = new Array[Double](v.length)
              var i = 0
              while (i < v.length) { out(i) = v(i); i += 1 }
              out
          }
        }.toArray
        val cids = new Array[Int](qs.length)
        ci.nearestBatch(qs, cids)
        chunk.iterator.zipWithIndex.map { case (r, i) =>
          val codes = Coder.encodeResidual(qs(i), ci, cids(i), bcB.value, subDim)
          new GenericInternalRow(Array[Any](
            if (r.isNullAt(0)) null else r.getLong(0),
            r.getArray(1), r.getUTF8String(2),
            UnsafeArrayData.fromPrimitiveArray(codes), cids(i)))
        }
      }
    }
    Bridge.internalCreateDataFrame(rows.sparkSession, coded, schema)
  }

  /** Coded table read schema, explicit on every read (inference dies on
    * a legitimately-empty index, e.g. after removing every row): the
    * covering columns plus the bucket partition column.
    *
    * COVERING index: alongside the PQ code it stores the full-precision
    * vector and the metadata, so the rerank + hydrate stages read ONLY the
    * probed cluster partitions. The reference fetches its candidates by
    * id from LMDB (mindb.py:424-428); Parquet has no point lookup, so
    * without covering columns every query paid a full base-table scan to
    * fetch ~500 candidate rows — measured at the 1M×768 ScaleEval as
    * 20 s/query, SLOWER than brute force. With them, every serving
    * stage's bytes ∝ nprobe/nlist (column pruning keeps the ADC scan
    * reading only id/code/cluster_id). Storage is ~2× the base table.
    */
  private[core] val codedSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("metadata", StringType, nullable = true),
    StructField("code", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("cluster_id", IntegerType, nullable = false),
    StructField("cluster_bucket", IntegerType, nullable = false)))

  /** Rewrite the table when post-train appends push its file count past
    * this many files per bucket (each append lays down one file-set per
    * touched bucket; unchecked, the pruned scan becomes a small-file
    * storm).
    */
  val CodedFilesPerCluster: Int = 4

  /** Target parquet-file size for the coded table. 256 MB (canonical
    * parquet sizing, 2 row groups at the default 128 MB block), raised
    * from 32 MB after the round-14 35M root profile (PLANS.md
    * serving-floor findings) measured the serving floor at the 35M
    * geometry: probed clusters spread uniformly over buckets, so EVERY
    * coarse pass opens ~every bucket file, and at 26 MB files that was
    * ~350 opens × (footer + page-index ≈ 3-5 ms) — more than half the
    * composable-path latency. Bigger buckets cut the per-query open
    * count ~8× while analytic scans keep task parallelism by splitting
    * at row-group boundaries (maxPartitionBytes 128 MB).
    */
  val TargetCodedFileBytes: Long = 256L * 1024 * 1024

  /** Ceiling on coded-table buckets — bounds partition-dir count (and the
    * listing cost of every coded read) no matter the corpus size; past it
    * files simply grow beyond [[TargetCodedFileBytes]], which scans
    * tolerate.
    */
  val MaxCodedBuckets: Long = 4096L

  /** Coded-table layout sizing: group `2^shift` consecutive cluster_ids
    * into one `cluster_bucket` partition dir so each bucket's file lands
    * near [[TargetCodedFileBytes]].
    *
    * Rationale (measured, EVAL_r09 `scale_run_35m`): one hive dir per
    * cluster is healthy at nlist ≈ 35k but at nlist 91,008 it degrades
    * to 78,969 files of ~125 KB — the single-query candidate fetch opens
    * thousands of tiny files (exec-bound 2,071 ms of a 2,302 ms p50) and
    * a 100 TB deployment would put millions of objects per index version
    * on the object store. Bucketing keeps file count ∝ data bytes (not
    * nlist); files sort by `cluster_id` so parquet row-group/page stats
    * still prune within a bucket.
    *
    * `0` means bucket == cluster_id (few huge clusters: per-cluster dirs
    * already right-sized); returns at least that. Estimation only needs
    * to land within ~2× of the target — `rowBytes` is the covering row:
    * id 8 + length/offsets ~8 + 4·d vector + m code bytes + ~64 metadata.
    */
  def bucketShift(n: Long, nlist: Int, d: Int, m: Int): Int = {
    val rowBytes = 16L + 4L * math.max(1, d) + math.max(0, m) + 64L
    val buckets = math.max(1L, math.min(MaxCodedBuckets,
      (n * rowBytes + TargetCodedFileBytes - 1) / TargetCodedFileBytes))
    val cpb = math.max(1L, (nlist + buckets - 1) / buckets)
    if (cpb <= 1L) 0
    else math.min(30, 64 - java.lang.Long.numberOfLeadingZeros(cpb - 1L))
  }

  /** Bucket-dir count the shift yields for an nlist. */
  def bucketCount(nlist: Int, shift: Int): Int =
    math.max(1, ((nlist.toLong + (1L << shift) - 1) >> shift).toInt)

  /** Bucket-dir count of a trained doc's table. */
  def bucketCount(doc: CatalogDoc): Int =
    bucketCount(math.max(1, doc.numClusters), doc.codedBucketShift)

  /** Peak shuffle bytes one coded-write bucket group may carry (the
    * train-time disk envelope, [[CodedStore.write]]): the bucket
    * repartition of a covering table beyond this splits into
    * ⌈bytes/this⌉ groups so shuffle scratch never stacks the whole table
    * on top of the input parquet and the output parquet. 6 GiB ≈ the
    * slack the r14 80 GB scratch box had left after data+coded at the
    * 10M×768 geometry. Env-overridable for eval boxes with different
    * quotas.
    */
  val CodedShuffleGroupBytes: Long =
    sys.env.get("GRAFT_CODED_SHUFFLE_GROUP_BYTES").map(_.toLong)
      .getOrElse(6L << 30)
}
