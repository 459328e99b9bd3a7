package graft.core



import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.SerializableConfiguration

import graft.core.Engine.IndexModel

/** Plan-free serving scan for the per-query coarse ADC and fetch
  * stages: reads the probed coded buckets through Spark's own vectorized
  * parquet reader, but with every per-query driver cost amortized to once
  * per INDEX EPOCH (db, indexVersion). A trained single query on the
  * plan surface runs its coarse and fetch stages here:
  *
  *  - the Hadoop conf is cloned from the session ONCE per epoch and
  *    broadcast ONCE — a Catalyst file scan clones and broadcasts it per
  *    scan per query (8 fresh ~1000-entry conf broadcasts per query at
  *    the 35M shape: driver serialize+gzip, executor gunzip+HashMap
  *    fill — the r16-attributed top CPU frame, PLANS.md round-16 audit);
  *  - the bucket→file listing is computed once per epoch (the exact
  *    owner-version dir rules of [[CodedStore]]) and the probed subset
  *    ships in the job closure — no FileIndex, no per-query Catalyst
  *    analyze/optimize/physical-plan of N scan subtrees (the 286-of-389
  *    ms plan share at 11M×768, EVAL_r16);
  *  - parquet footers are cached executor-side across queries — the
  *    stock reader re-reads every file's footer on every query;
  *  - the injected probe predicate ([[taskPredicate]]) is built per TASK
  *    from only the task's own buckets' probes, and the per-task conf
  *    writes are two per TASK instead of two clones per FILE (Spark's
  *    reader-factory lambda);
  *  - pending soft-deletes are skipped before heap entry with the sorted
  *    id array [[graft.operators.PreparedANN.servePartition]] gates on,
  *    broadcast once per deletes generation by the engine.
  *
  * Exactness story: row-group/page/dictionary pruning off the injected
  * predicate passes a SUPERSET of the probed rows per file (page
  * granularity), and the coarse kernel ([[graft.operators.BatchANN
  * .coarsePartition]]) scores ONLY clusters in the query's probe set.
  * The kernel is the batch coarse stage's per-partition function and
  * the driver merge keeps the same (adc_dist, id) order, so the
  * candidate array equals the batch path's at q=1 over the same live
  * rows (gated by ServingScanCustomSpec and CoarseUnionJobSpec).
  *
  * Scale shape: [[planTasks]] aims at ~2× parallelism tasks per query
  * along two subdivision axes — byte ranges of bucket-sorted files
  * (Spark's own split rule) and, when ranges are fewer than that
  * (few big row groups), disjoint probe slices over the same range —
  * so tasks/query stays proportional to probed bytes at many-file
  * geometries AND spreads over the cores at few-file ones. Measured
  * (EVAL_r17): latency is ~flat in file count (94–112 ms at 665 coded
  * files vs 105–143 at 3, same 2M corpus) where the per-query-planned
  * path degraded 294–371 vs 197–284. At 1000-executor geometry the
  * epoch conf broadcast and footer caches amortize across queries the
  * same way (both are executor-resident).
  */
object ServingScan {

  /** Conf keys the stock reader reads at init (literal because the Spark
    * classes carrying them are package-private; values verified against
    * the Spark 4.1 jars).
    */
  private val ReadSupportClassKey = "parquet.read.support.class"
  private val ReadSupportClassName =
    "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport"
  private val SparkRequestedSchemaKey =
    "org.apache.spark.sql.parquet.row.requested_schema"

  /** Per-epoch driver state. `bucketFiles` holds (path, length) per
    * cluster_bucket, listed under the owner-version dirs exactly as the
    * engine's coded read does; `bcConf` is the one Hadoop-conf broadcast
    * every query of this epoch reuses.
    */
  final class Epoch(
      val shift: Int,
      val bucketFiles: Map[Int, Array[(String, Long)]],
      val bcConf: Broadcast[SerializableConfiguration],
      val coarseSchemaJson: String,
      val fetchSchemaJson: String,
      val maxTaskBytes: Long,
      // floor for the per-query byte-range target — production 4 MB;
      // specs lower it so multi-range tasks (and the midpoint-rule
      // footer filtering they depend on) are exercised at sbt-test scale
      val minSplitBytes: Long = 4L << 20,
      // data stamp of the catalog doc this epoch's listing reflects
      // (maxId|codedOwners at build time) — the engine rebuilds
      // the epoch when the TTL'd doc re-read shows a different stamp, so
      // a CROSS-DRIVER same-version coded append is served at doc-TTL
      // granularity instead of "stale until a version bump" (r18,
      // VERDICT r17 #3)
      val stamp: String = "") extends Serializable {
    def close(): Unit = bcConf.unpersist(false)
  }

  /** A byte range of one parquet file (row groups are selected by the
    * midpoint rule, exactly like Spark's splits); `fileLen` rides along
    * for the footer-cache key and the end-of-range bound.
    */
  final case class FileRange(path: String, start: Long, len: Long,
                             fileLen: Long)

  /** One scan task: a run of bucket-sorted file ranges plus the union of
    * their buckets' probed cluster ids (the task's injected predicate).
    * For FETCH tasks, `ids` additionally carries the candidate row ids
    * of those clusters (ANDed into the injected predicate and applied
    * exactly in the task); empty for coarse tasks.
    */
  final case class ScanTask(files: Array[FileRange], probes: Array[Int],
                            ids: Array[Long] = Array.empty)

  /** Executor-resident footer cache, keyed by (path, length) — coded
    * files are immutable (new data lands in new files; compaction writes
    * new version dirs), so length disambiguates the rare same-path
    * rewrite. BYTE-bounded LRU (r18, VERDICT r17 #2): an entry-count
    * bound let a wide-schema tenant sharing the executor grow the cache
    * to hundreds of MB; the footprint is approximated from the footer's
    * own shape (per-column-chunk metadata dominates a ParquetMetadata).
    */
  private[core] var footerCacheMaxBytes: Long = 128L << 20

  private def footerApproxBytes(f: ParquetMetadata): Long = {
    var cols = 0L
    val it = f.getBlocks.iterator()
    while (it.hasNext) cols += it.next().getColumns.size()
    // ~512 B per ColumnChunkMetaData (path, codec, stats, offsets) plus a
    // fixed base for FileMetaData/schema — deliberately generous so the
    // bound errs toward evicting early, never toward unbounded growth
    2048L + 512L * cols
  }

  private object footerCache {
    private val map = new java.util.LinkedHashMap[
      (String, Long), (ParquetMetadata, Long)](64, 0.75f, true)
    private var bytes = 0L
    def get(k: (String, Long)): ParquetMetadata = synchronized {
      val v = map.get(k)
      if (v == null) null else v._1
    }
    def put(k: (String, Long), f: ParquetMetadata): Unit = synchronized {
      val b = footerApproxBytes(f)
      val prev = map.put(k, (f, b))
      bytes += b - (if (prev == null) 0L else prev._2)
      // evict access-order-eldest until under the bound; the entry just
      // inserted is exempt (a single oversized footer must still serve)
      val it = map.entrySet().iterator()
      while (bytes > footerCacheMaxBytes && it.hasNext) {
        val e = it.next()
        if (e.getKey != k) { bytes -= e.getValue._2; it.remove() }
      }
    }
    def stats: (Int, Long) = synchronized { (map.size(), bytes) }
    def clear(): Unit = synchronized { map.clear(); bytes = 0L }
  }

  /** One file's full footer through the cache above. */
  private def cachedFooter(path: Path, fileLen: Long,
                           conf: Configuration): ParquetMetadata = {
    val k = (path.toString, fileLen)
    var f = footerCache.get(k)
    if (f == null) {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        HadoopInputFile.fromPath(path, conf))
      try f = r.getFooter finally r.close()
      footerCache.put(k, f)
    }
    f
  }

  /** Row-group shape of `files` (parquet paths), read from their cached
    * footers: (rows, rows of the largest row group, uncompressed bytes).
    */
  private[graft] def rowGroupShape(files: Seq[String],
                                   conf: Configuration): (Long, Long, Long) = {
    var rows = 0L
    var largest = 0L
    var bytes = 0L
    files.foreach { f =>
      val in = HadoopInputFile.fromPath(new Path(f), conf)
      cachedFooter(in.getPath, in.getLength, conf).getBlocks.forEach { g =>
        rows += g.getRowCount
        largest = math.max(largest, g.getRowCount)
        bytes += g.getTotalByteSize
      }
    }
    (rows, largest, bytes)
  }

  /** Test seams for the byte-bound spec. */
  private[core] def footerCacheStats: (Int, Long) = footerCache.stats
  private[core] def footerCacheClear(): Unit = footerCache.clear()

  /** Build the per-epoch state: one conf clone + one broadcast + one
    * listing pass. `bucketDirs` supplies (bucket → dir) pairs — the
    * coded store owns the owner-version layout rules, so the listing rule
    * stays in ONE place (CodedStore.servingEpoch).
    */
  def buildEpoch(spark: SparkSession, shift: Int,
                 coarseSchema: StructType, fetchSchema: StructType,
                 bucketDirs: Seq[(Int, Path)],
                 maxTaskBytes: Long,
                 minSplitBytes: Long = 4L << 20,
                 stamp: String = ""): Epoch = {
    val conf = spark.sessionState.newHadoopConf()
    conf.set(ReadSupportClassKey, ReadSupportClassName)
    // keys the stock reader init reads WITHOUT defaults (normally set by
    // ParquetFileFormat's reader factory) — pin them to the session's
    // runtime values once per epoch
    locally {
      import org.apache.spark.sql.internal.SQLConf._
      Seq(CASE_SENSITIVE, PARQUET_BINARY_AS_STRING, PARQUET_INT96_AS_TIMESTAMP,
        PARQUET_FIELD_ID_READ_ENABLED, PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
        LEGACY_PARQUET_NANOS_AS_LONG, PARQUET_IGNORE_VARIANT_ANNOTATION,
        PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION,
        VARIANT_ALLOW_READING_SHREDDED)
        .foreach(e =>
          conf.set(e.key, spark.conf.get(e.key, e.defaultValueString)))
    }
    val files: Map[Int, Array[(String, Long)]] = bucketDirs.iterator.map {
      case (b, dir) =>
        val fs = dir.getFileSystem(conf)
        val listed: Array[(String, Long)] =
          if (!fs.exists(dir)) Array.empty
          else fs.listStatus(dir).iterator
            .filter { st =>
              val n = st.getPath.getName
              st.isFile && st.getLen > 0 &&
                !n.startsWith("_") && !n.startsWith(".")
            }
            .map(st => (st.getPath.toString, st.getLen))
            .toArray.sortBy(_._1)
        b -> listed
    }.toMap
    val bc = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    new Epoch(shift, files, bc, coarseSchema.json, fetchSchema.json,
      maxTaskBytes, minSplitBytes, stamp)
  }

  /** Split the probed buckets' files into scan tasks aiming at ~2×
    * `parallelism` tasks. Two subdivision axes, because two geometries
    * bound parallelism differently:
    *
    *  - BYTE RANGES (Spark's own splits, row groups by the midpoint
    *    rule): target split bytes = probed bytes / 2×parallelism,
    *    clamped to [minSplitBytes, maxTaskBytes]. Enough for many-file
    *    roots —
    *    but on a FEW-big-row-group root only the range holding a row
    *    group's midpoint does any work, so ranges alone left a 3-file
    *    2M root scanning on ~4 of 32 cores (measured: custom coarse
    *    215–243 ms vs 69–80 for the Catalyst chunk union of the time).
    *  - PROBE SUBSETS: when ranges are too few, each range is served by
    *    k tasks carrying DISJOINT contiguous slices of its bucket's
    *    probes — each task's injected predicate page-prunes to its own
    *    slice.
    *
    * Every task's kernel/id gate is its OWN `probes`/`ids` (disjoint
    * union over tasks = the query's full sets), so each probed row is
    * scored by exactly one task under BOTH axes.
    */
  private[core] def planTasks(epoch: Epoch, probes: Array[Int],
                              idsByCluster: Map[Int, Array[Long]] = Map.empty,
                              parallelism: Int = 32)
      : Array[ScanTask] = {
    val byBucket = probes.groupBy(_ >>> epoch.shift).toArray.sortBy(_._1)
    val probedBytes = byBucket.iterator.map { case (b, _) =>
      epoch.bucketFiles.getOrElse(b, Array.empty).iterator.map(_._2).sum
    }.sum
    val targetSplit = math.max(epoch.minSplitBytes,
      math.min(epoch.maxTaskBytes,
        probedBytes / math.max(1, 2 * parallelism)))
    def idsFor(ps: Array[Int]): Array[Long] =
      if (idsByCluster.isEmpty) Array.empty[Long]
      else ps.iterator.flatMap(idsByCluster.getOrElse(_, Array.empty[Long]))
        .toArray.sorted
    // bucket-tagged ranges, bucket-sorted
    val ranges = Array.newBuilder[(Int, Array[Int], FileRange)]
    var nRanges = 0
    byBucket.foreach { case (b, bProbes) =>
      val sortedProbes = bProbes.sorted
      epoch.bucketFiles.getOrElse(b, Array.empty).foreach { case (p, len) =>
        var off = 0L
        while (off < len) {
          val rangeLen = math.min(targetSplit, len - off)
          ranges += ((b, sortedProbes, FileRange(p, off, rangeLen, len)))
          nRanges += 1
          off += rangeLen
        }
      }
    }
    val allRanges = ranges.result()
    // Zero ranges is a legal plan, not an error: every probed cluster can
    // land in a missing/empty bucket dir (skewed tiny corpora), and the
    // fetch path plans over an empty candidate set when coarse found
    // nothing. The probe-slice branch below divides by nRanges — guard
    // BEFORE it so a zero-hit query returns an empty frame instead of
    // throwing (ADVICE r17 high; pinned by ServingScanCustomSpec).
    if (nRanges == 0) return Array.empty[ScanTask]
    val targetTasks = 2 * math.max(1, parallelism)
    if (nRanges >= targetTasks) {
      // many ranges: pack consecutive (bucket-sorted) ranges up to
      // ~targetSplit bytes per task; task probes = union of its buckets'
      val tasks = Array.newBuilder[ScanTask]
      val curFiles = Array.newBuilder[FileRange]
      val curProbes = scala.collection.mutable.LinkedHashSet.empty[Int]
      var curBytes = 0L
      var curN = 0
      def flush(): Unit = if (curN > 0) {
        val ps = curProbes.toArray.sorted
        tasks += ScanTask(curFiles.result(), ps, idsFor(ps))
        curFiles.clear(); curProbes.clear(); curBytes = 0L; curN = 0
      }
      allRanges.foreach { case (_, bProbes, fr) =>
        if (curBytes + fr.len > targetSplit) flush()
        curFiles += fr
        curProbes ++= bProbes
        curBytes += fr.len; curN += 1
      }
      flush()
      tasks.result()
    } else {
      // few ranges (big row groups): subdivide each range by probe slices
      val k = (targetTasks + nRanges - 1) / nRanges
      allRanges.flatMap { case (_, bProbes, fr) =>
        val slices = math.min(k, bProbes.length)
        val per = (bProbes.length + slices - 1) / slices
        bProbes.grouped(per).map { slice =>
          ScanTask(Array(fr), slice, idsFor(slice))
        }
      }
    }
  }

  /** The coarse ADC stage over the probed buckets: plan-free scan tasks,
    * the shared per-partition kernel, the shared driver merge. Rows whose
    * id is in `deleted` (sorted pending soft-deletes) never enter a heap.
    * Returns the ≤ prelimK (id, adc_dist, cluster_id) candidate rows,
    * smallest (adc_dist, id) first — the batch coarse stage's
    * ([[graft.operators.BatchANN.coarseCandidates]]) rows for this one
    * query over the same live rows.
    */
  def coarse(spark: SparkSession, epoch: Epoch,
             bcModel: Broadcast[IndexModel],
             deleted: Broadcast[Array[Long]],
             qp: Array[Float], probes: Array[Int],
             prelimK: Int): Array[(Long, Double, Int)] = {
    val tasks = planTasks(epoch, probes,
      parallelism = spark.sparkContext.defaultParallelism)
    if (tasks.isEmpty) return Array.empty
    val sc = spark.sparkContext
    val bcConf = epoch.bcConf
    val schemaJson = epoch.coarseSchemaJson
    val q = qp
    val rdd = sc.parallelize(tasks.toIndexedSeq, tasks.length)
    // kernel gate = the TASK's own probe slice (not the query's full
    // set): probe-sliced tasks over one range page-prune to supersets
    // that may overlap another slice's pages, and the per-task gate is
    // what keeps every probed row scored by exactly one task
    val parts = sc.runJob(rdd, (it: Iterator[ScanTask]) => {
      val model = bcModel.value
      val dead = deleted.value
      it.map { task =>
        val rows = taskRows(task, bcConf.value.value, schemaJson)
        graft.operators.BatchANN.coarsePartition(
          if (dead.isEmpty) rows
          else rows.filter(r => java.util.Arrays.binarySearch(dead, r.getLong(0)) < 0),
          model, q, task.probes.toSet, prelimK)
      }.toArray
    })
    graft.operators.BatchANN.mergeCoarseParts(
      parts.iterator.flatten.toSeq, prelimK)
  }

  /** Candidate fetch by exact row id over the probed-candidate clusters:
    * the Q4 stage as a plan-free scan. Pages are pruned by the injected
    * (cluster or-of-eq AND id or-of-eq) predicate — the two chains the
    * batch path's Catalyst fetch pushes — and rows are gated EXACTLY by
    * the id set in the task, so a pending-deleted id (never a coarse
    * survivor) never comes back. Returns (id, vector, metadata) driver-side: ≤
    * prelimK rows by construction (the ids are the coarse survivors), so
    * the collect is bounded by the same contract that already bounds the
    * coarse merge.
    */
  def fetch(spark: SparkSession, epoch: Epoch,
            idsByCluster: Map[Int, Array[Long]])
      : Array[(Long, Array[Float], String)] = {
    val clusters = idsByCluster.keysIterator.toArray.sorted
    val tasks = planTasks(epoch, clusters, idsByCluster,
      parallelism = spark.sparkContext.defaultParallelism)
    if (tasks.isEmpty) return Array.empty
    val sc = spark.sparkContext
    val bcConf = epoch.bcConf
    val schemaJson = epoch.fetchSchemaJson
    val rdd = sc.parallelize(tasks.toIndexedSeq, tasks.length)
    val parts = sc.runJob(rdd, (it: Iterator[ScanTask]) => {
      val out = Array.newBuilder[(Long, Array[Float], String)]
      it.foreach { task =>
        val idSet = task.ids.toSet
        taskRows(task, bcConf.value.value, schemaJson).foreach { r =>
          val id = r.getLong(0)
          if (idSet.contains(id)) {
            val vec = r.getArray(1).toFloatArray()
            val meta = if (r.isNullAt(2)) null else r.getUTF8String(2).toString
            out += ((id, vec, meta))
          }
        }
      }
      out.result()
    })
    parts.iterator.flatten.toArray
  }

  /** The task's injected parquet predicate: a balanced or-of-eq over its
    * buckets' probed clusters, ANDed (fetch tasks) with a balanced
    * or-of-eq over its candidate ids. It is serialized straight into the
    * task's conf ([[taskRows]]), once per task: Spark's own pushdown
    * rebuilds the predicate at every reader init, and parquet's
    * `setFilterPredicate` string-concats a left-nested chain (O(terms²)
    * chars) and gzip+Java-serializes it per FILE per TASK — ~99.6% of
    * the coarse scan's task CPU in the r15 attribution
    * (evalruns_r15/chunkcpu_35m.log, PLANS.md).
    *
    * SHAPE: a BALANCED or-tree of `eq` terms, NOT parquet's native
    * `Operators.In` — on the coded page geometry (InjectedPredicateSpec's
    * fixture), 1.16's column-index evaluation of In kept every page from
    * row 0 through the LAST matching page (97,280 of 100k rows for 4
    * values) where the same values as an or-of-eq kept exactly the 4
    * matching pages (2,048 rows). Balanced keeps the tree O(log terms)
    * deep (serializer/visitor stack).
    */
  private[graft] def taskPredicate(task: ScanTask)
      : org.apache.parquet.filter2.predicate.FilterPredicate = {
    import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
    val cCol = FilterApi.intColumn("cluster_id")
    def intTree(lo: Int, hi: Int): FilterPredicate =
      if (hi - lo == 1) FilterApi.eq(cCol, Integer.valueOf(task.probes(lo)))
      else { val mid = (lo + hi) >>> 1; FilterApi.or(intTree(lo, mid), intTree(mid, hi)) }
    val clusterPred = intTree(0, task.probes.length)
    if (task.ids.isEmpty) clusterPred
    else {
      val idCol = FilterApi.longColumn("id")
      def longTree(lo: Int, hi: Int): FilterPredicate =
        if (hi - lo == 1) FilterApi.eq(idCol, java.lang.Long.valueOf(task.ids(lo)))
        else { val mid = (lo + hi) >>> 1; FilterApi.or(longTree(lo, mid), longTree(mid, hi)) }
      FilterApi.and(clusterPred, longTree(0, task.ids.length))
    }
  }

  /** All rows of one task's files: one conf clone + one attempt context
    * for the whole task (vs two clones per FILE in the stock reader
    * factory), footers from the executor cache, vectorized batches
    * surfaced as InternalRows for the kernel.
    */
  private def taskRows(task: ScanTask, baseConf: Configuration,
                       schemaJson: String): Iterator[InternalRow] = {
    val conf = new Configuration(baseConf)
    conf.set(SparkRequestedSchemaKey, schemaJson)
    val key = org.apache.parquet.hadoop.ParquetInputFormat.FILTER_PREDICATE
    org.apache.parquet.hadoop.util.SerializationUtil.writeObjectToConfAsBase64(
      key, taskPredicate(task), conf)
    conf.set(key + ".human.readable",
      s"or-of-eq(cluster_id, ${task.probes.length})" +
        (if (task.ids.isEmpty) "" else s" and or-of-eq(id, ${task.ids.length})"))
    val ctx = new TaskAttemptContextImpl(conf, new TaskAttemptID())
    task.files.iterator.flatMap(fr => fileRows(fr, ctx))
  }

  private def fileRows(fr: FileRange,
                       ctx: TaskAttemptContextImpl): Iterator[InternalRow] = {
    val conf = ctx.getConfiguration
    val path = new Path(fr.path)
    val fullFooter = cachedFooter(path, fr.fileLen, conf)
    // RANGE-filter the cached footer by parquet's midpoint rule
    // (startingPos + compressedSize/2 ∈ [start, end)) — the rule Spark's
    // per-split footer READ applies. A PROVIDED footer bypasses that
    // read, and ParquetFileReader's constructor applies only the RECORD
    // filter to it, so without this every range of a file read every
    // row group: the r17 scaleeval_35m_final equality-gate failure
    // (duplicate coarse candidates, 3× fetch rows) was exactly that.
    val footer = {
      val kept = new java.util.ArrayList[
        org.apache.parquet.hadoop.metadata.BlockMetaData]()
      val it = fullFooter.getBlocks.iterator()
      while (it.hasNext) {
        val b = it.next()
        val mid = b.getStartingPos + b.getCompressedSize / 2
        if (mid >= fr.start && mid < fr.start + fr.len) kept.add(b)
      }
      new ParquetMetadata(fullFooter.getFileMetaData, kept)
    }
    if (footer.getBlocks.isEmpty) return Iterator.empty
    val split = new org.apache.hadoop.mapred.FileSplit(path, fr.start, fr.len,
      Array.empty[String])
    val inputFile = HadoopInputFile.fromPath(path, conf)
    val stream = inputFile.newStream()
    val reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
    var init = false
    try {
      reader.initialize(split, ctx, Some(inputFile), Some(stream), Some(footer))
      reader.initBatch(new StructType(), InternalRow.empty)
      reader.enableReturningBatches()
      init = true
    } finally if (!init) { try reader.close() catch { case _: Throwable => () }
      try stream.close() catch { case _: Throwable => () } }
    var closed = false
    def closeOnce(): Unit = if (!closed) { closed = true; reader.close() }
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
    new Iterator[InternalRow] {
      private var batchIt: java.util.Iterator[InternalRow] = _
      private def advance(): Boolean = {
        while (batchIt == null || !batchIt.hasNext) {
          if (closed || !reader.nextKeyValue()) { closeOnce(); return false }
          batchIt = reader.getCurrentValue.asInstanceOf[ColumnarBatch].rowIterator()
        }
        true
      }
      def hasNext: Boolean = advance()
      def next(): InternalRow = { if (!advance()) throw new NoSuchElementException; batchIt.next() }
    }
  }
}
