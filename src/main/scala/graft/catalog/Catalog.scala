package graft.catalog

import java.nio.charset.StandardCharsets

import scala.util.matching.Regex

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.index.IndexParams

/** Per-database catalog document — the Spark-side replacement for the
  * reference's `config.json` (minDB mindb.py:513-527) plus snapshot
  * pointers that replace its mutable-index concurrency (locks/queues,
  * fastapi.py:23-28) with immutable versioned tables + atomic pointer swap.
  *
  * Layout per database:
  * {{{
  *   <root>/<name>/catalog.<epoch>.json      one complete file per save ([[Catalog.save]])
  *   <root>/<name>/data/v<dataVersion>/      (id, vector, metadata) parquet
  *   <root>/<name>/deletes/d<dataVersion>/   pending soft-deleted ids
  *   <root>/<name>/index/v<indexVersion>/    centroids/ codebooks/ pca/ coded/
  * }}}
  */
final case class CatalogDoc(
    name: String,
    vectorDimension: Int,          // -1 until first add (inferred, mindb.py:225)
    maxId: Long,                   // highest assigned id (mindb.py:192-193)
    dataVersion: Int,
    indexVersion: Int,             // -1 = flat / untrained
    maxTrainedId: Long,
    numVectorsTrainedOn: Long,
    numTrainedVectorsRemoved: Long,
    numNewVectors: Long,
    numPendingDeletes: Long,       // soft-deleted ids awaiting compaction
    pcaDimension: Int,
    opqDimension: Int,
    compressedVectorBytes: Int,
    numClusters: Int,
    nProbe: Int,
    usedTwoLevel: Int,             // T7 decision at last train: -1 never, 0 subsample, 1 two-level
    createdAt: Long,               // creation stamp — a train started against an older
                                   // incarnation must never swap onto a drop+recreate
    codedBucketShift: Int,         // coded-table layout: clusters 2^shift-grouped into
                                   // `cluster_bucket` partition dirs (-1 = untrained,
                                   // no coded table yet)
    codedOwners: String = "") {    // per-bucket owner INDEX VERSION as csv (one int per
                                   // cluster_bucket) — "" means every bucket lives under
                                   // `indexVersion`. Lets compaction rewrite ONLY the
                                   // buckets holding deleted rows: untouched buckets stay
                                   // in (and are read from) the version dir that wrote
                                   // them, so compact cost ∝ touched buckets, not table

  def isTrained: Boolean = indexVersion >= 0

  def dataPath(root: String): String = s"$root/$name/data/v$dataVersion"
  def indexPath(root: String, version: Int = indexVersion): String =
    s"$root/$name/index/v$version"
}

object CatalogDoc {
  def empty(name: String, vectorDimension: Int = -1): CatalogDoc =
    CatalogDoc(name, vectorDimension, maxId = -1L, dataVersion = 0,
      indexVersion = -1, maxTrainedId = -1L, numVectorsTrainedOn = 0L,
      numTrainedVectorsRemoved = 0L, numNewVectors = 0L,
      numPendingDeletes = 0L,
      pcaDimension = -1, opqDimension = -1, compressedVectorBytes = -1,
      numClusters = -1, nProbe = -1, usedTwoLevel = -1,
      createdAt = System.nanoTime(), codedBucketShift = -1)
}

/** Tiny flat-JSON codec + RENAME-FREE epoch-file pointer swap for the
  * catalog doc, over the Hadoop [[FileSystem]] API — the catalog, the
  * pointer swap, version sweeping, and the bin-packing trigger all work
  * against any Hadoop scheme (`file:`, `hdfs:`, `s3a:`), not just the
  * local filesystem: at 100 TB the engine root IS an object store, where
  * rename is copy+delete and must not be load-bearing (see the protocol
  * note at [[save]]). All doc fields are scalars so a hand-rolled codec
  * avoids any library dependency.
  */
object Catalog {

  /** Database-name validation, same charset as the reference
    * (input_validation.py:6-12).
    */
  private val NamePattern: Regex = "^[a-zA-Z0-9_ -]+$".r
  def validateName(name: String): Unit =
    require(NamePattern.matches(name),
      s"invalid database name '$name': only letters, digits, _, space, - allowed")

  private def fs(p: Path, conf: Configuration): FileSystem =
    p.getFileSystem(conf)

  // ---- rename-free epoch protocol -----------------------------------
  //
  // The catalog pointer swap must be safe on filesystems WITHOUT atomic
  // rename (object stores: Hadoop's rename there is copy+delete, and a
  // crash between the two — or a torn copy on a store without atomic
  // PUT-visibility — would leave the ONLY catalog file torn forever).
  // So there is no rename at all:
  //
  //   save  = write catalog.<epoch+1>.json COMPLETE (the `complete`
  //           end-marker is the last key, so a truncated write fails
  //           validation), then best-effort sweep epochs < epoch-1
  //   load  = list catalog.*.json, newest epoch first; first candidate
  //           that reads AND carries the end marker wins; a torn /
  //           vanished / still-being-written newer file is skipped and
  //           the previous complete epoch serves
  //
  // Readers therefore never see a torn doc and never lose the catalog to
  // a mid-swap crash: the previous epoch file is kept through exactly
  // the window in which the new one might be incomplete. Last-writer-
  // wins is preserved by the monotonic epoch (within a JVM, Engine's
  // per-db lock serializes writers; across drivers the old rename scheme
  // was last-writer-wins too). List-after-write lag on an eventually-
  // consistent listing at worst serves the PREVIOUS complete epoch — a
  // stale-but-whole doc, the same outcome as reading just before the
  // save. TornCatalogSpec drives the crash/torn/lag cases.

  private val EpochFile: Regex = """catalog\.(\d{20})\.json""".r

  private def epochFile(dir: Path, epoch: Long): Path =
    new Path(dir, f"catalog.$epoch%020d.json")

  /** (epoch, status) of every epoch file present, torn or not — newest
    * first.
    */
  private def listEpochs(dir: Path, f: FileSystem)
      : Seq[(Long, org.apache.hadoop.fs.FileStatus)] = {
    val listed =
      try f.listStatus(dir).toSeq catch {
        case _: java.io.FileNotFoundException => Seq.empty
      }
    listed.flatMap { st =>
      st.getPath.getName match {
        case EpochFile(e) => Some(e.toLong -> st)
        case _ => None
      }
    }.sortBy(-_._1)
  }

  /** The retired pre-epoch single-file catalog. A db dir holding only
    * this file still EXISTS — so it never reads as "db not found" — but
    * [[load]] refuses it.
    */
  private def legacyFile(dir: Path): Path = new Path(dir, "catalog.json")

  /** Parsed-doc cache: one entry per catalog DIRECTORY, keyed by the
    * winning epoch file's (name, length, mtime). A complete epoch file
    * is immutable (a crashed writer's torn epoch number is never reused
    * — [[save]]), so an unchanged identity can serve the parsed doc
    * without re-reading: repeat loads cost ONE `listStatus`. The listing
    * itself is never cached — it is what detects swaps; the serving
    * paths call [[load]] once per query (PreparedIndex's post-job
    * version re-check), which made the read+regex-parse a per-query
    * concurrency tax at 16 serving threads.
    */
  private val docCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Long, Long, CatalogDoc)]()

  def exists(root: String, name: String)(implicit conf: Configuration): Boolean = {
    val dir = new Path(root, name)
    val f = fs(dir, conf)
    listEpochs(dir, f).nonEmpty || f.exists(legacyFile(dir))
  }

  def save(root: String, doc: CatalogDoc)(implicit conf: Configuration): Unit = {
    val dir = new Path(root, doc.name)
    val f = fs(dir, conf)
    f.mkdirs(dir)
    val json =
      s"""{
         |  "name": ${quote(doc.name)},
         |  "vectorDimension": ${doc.vectorDimension},
         |  "maxId": ${doc.maxId},
         |  "dataVersion": ${doc.dataVersion},
         |  "indexVersion": ${doc.indexVersion},
         |  "maxTrainedId": ${doc.maxTrainedId},
         |  "numVectorsTrainedOn": ${doc.numVectorsTrainedOn},
         |  "numTrainedVectorsRemoved": ${doc.numTrainedVectorsRemoved},
         |  "numNewVectors": ${doc.numNewVectors},
         |  "numPendingDeletes": ${doc.numPendingDeletes},
         |  "pcaDimension": ${doc.pcaDimension},
         |  "opqDimension": ${doc.opqDimension},
         |  "compressedVectorBytes": ${doc.compressedVectorBytes},
         |  "numClusters": ${doc.numClusters},
         |  "nProbe": ${doc.nProbe},
         |  "usedTwoLevel": ${doc.usedTwoLevel},
         |  "createdAt": ${doc.createdAt},
         |  "codedBucketShift": ${doc.codedBucketShift},
         |  "codedOwners": ${quote(doc.codedOwners)},
         |  "complete": true
         |}""".stripMargin
    val known = listEpochs(dir, f)
    // a torn file from a crashed writer still advances the epoch — the
    // next save never reuses (and so never "repairs" into) its name
    val next = known.headOption.map(_._1).getOrElse(0L) + 1L
    writeString(f, epochFile(dir, next), json)
    // sweep: retain the newest COMPLETE predecessor — NOT merely the
    // newest file. After a crashed writer leaves a torn newest epoch,
    // keeping only that torn file would delete the sole complete
    // predecessor, and a reader whose (eventually-consistent) listing
    // misses the file just written would find nothing loadable (ADVICE
    // r12). So: find the newest predecessor that carries the end
    // marker and delete only epochs OLDER than it; torn files newer
    // than it are retained too (harmless — readers skip them, and the
    // next save's sweep removes them once a newer complete epoch
    // exists). Best-effort: a failed read/delete just leaves an extra
    // epoch for the next sweep.
    val newestComplete = known.find { case (_, st) =>
      try {
        """"complete"\s*:\s*true""".r.findFirstIn(readFile(f, st.getPath)).nonEmpty
      } catch { case _: java.io.IOException => false }
    }
    newestComplete.foreach { case (ce, _) =>
      known.filter(_._1 < ce).foreach { case (_, st) =>
        try f.delete(st.getPath, false) catch { case _: java.io.IOException => () }
      }
    }
  }

  def load(root: String, name: String)(implicit conf: Configuration): CatalogDoc = {
    val dir = new Path(root, name)
    val f = fs(dir, conf)
    var attempt = 0
    var raw: String = null
    var winner: org.apache.hadoop.fs.FileStatus = null
    while (raw == null) {
      val cands = listEpochs(dir, f)
      if (cands.isEmpty && f.exists(legacyFile(dir)))
        sys.error(s"catalog for '$name': only the retired pre-epoch " +
          "catalog.json is present; recreate the db")
      require(cands.nonEmpty, s"no catalog for database '$name' under $root")
      // parsed-doc cache probe on the NEWEST listed candidate: a hit
      // means the newest file IS the complete winner last parsed
      // (identity = name+len+mtime; complete epochs are immutable), so
      // the doc serves with zero reads. Any new epoch, torn or not,
      // misses and takes the full read path below.
      val newest = cands.head._2
      val cached = docCache.get(dir.toString)
      if (cached != null && cached._1 == newest.getPath.getName &&
          cached._2 == newest.getLen &&
          cached._3 == newest.getModificationTime)
        return cached._4
      val found = cands.iterator.flatMap { case (_, st) =>
        // a candidate may be mid-write (visible-but-partial on filesystems
        // without atomic create visibility) or already swept — skip to the
        // previous complete epoch
        try {
          val s = readFile(f, st.getPath)
          val complete = """"complete"\s*:\s*true""".r.findFirstIn(s).nonEmpty
          if (complete) Some((s, st)) else None
        } catch { case _: java.io.IOException => None }
      }.nextOption().orNull
      if (found != null) { raw = found._1; winner = found._2 }
      if (raw == null) {
        // every listed candidate was torn or vanished: the listing went
        // stale across ≥2 saves (reader paused, writer swept) or the
        // newest file is mid-write — a FRESH list sees a complete epoch.
        // Bounded retry sized for eventually-consistent listings (6
        // attempts, ~200 ms linear backoff — an EC LIST horizon, not
        // just a local-FS race), then fail loudly (a root with only a
        // torn file is a real crash artifact the caller must see).
        attempt += 1
        if (attempt >= 6)
          sys.error(s"catalog for '$name': no complete epoch among " +
            listEpochs(dir, f).map(_._2.getPath.getName).mkString(", "))
        Thread.sleep(10L * attempt)
      }
    }
    def str(k: String): String =
      s""""$k"\\s*:\\s*"((?:[^"\\\\]|\\\\.)*)"""".r.findFirstMatchIn(raw)
        .map(_.group(1)).getOrElse(sys.error(s"catalog missing $k"))
    def strOr(k: String, default: String): String =
      s""""$k"\\s*:\\s*"((?:[^"\\\\]|\\\\.)*)"""".r.findFirstMatchIn(raw)
        .map(_.group(1)).getOrElse(default)
    def numOr(k: String, default: Long): Long =
      s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(raw)
        .map(_.group(1).toLong).getOrElse(default)
    def num(k: String): Long =
      s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(raw)
        .map(_.group(1).toLong).getOrElse(sys.error(s"catalog missing $k"))
    val doc = CatalogDoc(str("name"), num("vectorDimension").toInt, num("maxId"),
      num("dataVersion").toInt, num("indexVersion").toInt, num("maxTrainedId"),
      num("numVectorsTrainedOn"), num("numTrainedVectorsRemoved"),
      num("numNewVectors"), num("numPendingDeletes"),
      num("pcaDimension").toInt,
      num("opqDimension").toInt, num("compressedVectorBytes").toInt,
      num("numClusters").toInt, num("nProbe").toInt,
      // absent from older catalogs — defaults keep old roots loadable
      numOr("usedTwoLevel", -1L).toInt, numOr("createdAt", 0L),
      numOr("codedBucketShift", -1L).toInt,
      strOr("codedOwners", ""))
    // a trained doc without a bucket shift (missing, or the pre-r10 -1)
    // points at the retired one-dir-per-cluster coded table, which no
    // reader understands any more — refuse it
    if (doc.isTrained && doc.codedBucketShift < 0)
      sys.error(s"catalog for '$name': the trained index uses the retired " +
        "per-cluster coded layout (codedBucketShift missing or -1); " +
        "retrain the db to rewrite it")
    // the packed BIGINT `code` column is retired: every reader declares
    // `code` as array<int>, so such a table would be misread — refuse it
    if (numOr("codedPacked", 0L) != 0L)
      sys.error(s"catalog for '$name': the coded table uses the retired " +
        "packed code layout (codedPacked = 1); retrain the db to rewrite it")
    // cache under the winner's identity; the probe only ever hits when
    // this same file is still the newest listed, so a torn newer epoch
    // (winner != newest) simply never hits — correct, just uncached
    docCache.put(dir.toString, (winner.getPath.getName, winner.getLen,
      winner.getModificationTime, doc))
    doc
  }

  private def readFile(f: FileSystem, p: Path): String = {
    val len = f.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = f.open(p)
    try in.readFully(0L, buf) finally in.close()
    new String(buf, StandardCharsets.UTF_8)
  }

  /** Small-file write helper (marker files, the catalog tmp). */
  def writeString(f: FileSystem, p: Path, s: String): Unit = {
    val out = f.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  def delete(root: String, name: String)(implicit conf: Configuration): Unit = {
    // drop the parsed-doc cache entry: a recreate restarts the epoch
    // numbering, so a same-name file could otherwise collide with the
    // cached identity inside one mtime granule
    docCache.remove(new Path(root, name).toString)
    deletePath(new Path(root, name))
  }

  /** Recursive delete (no-op if absent). */
  def deletePath(path: Path)(implicit conf: Configuration): Unit = {
    val f = fs(path, conf)
    if (f.exists(path)) f.delete(path, true)
  }

  def withParams(doc: CatalogDoc, p: IndexParams, nlist: Int, nprobe: Int): CatalogDoc =
    doc.copy(pcaDimension = p.pcaDimension, opqDimension = p.opqDimension,
      compressedVectorBytes = p.compressedVectorBytes, numClusters = nlist,
      nProbe = nprobe)

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
