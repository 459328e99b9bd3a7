package graft.core

import graft.SparkSpec
import graft.catalog.Catalog

/** A remove writes its deletes segment before the catalog save that
  * counts it. A crash between the two leaves a segment no commit counted:
  * it must stay invisible (count and counters agree), and the retried
  * remove must delete the ids for real. A root written before segments
  * (part files directly in the deletes dir) keeps loading.
  */
class LostRemoveCommitSpec extends SparkSpec {

  private val D = 4

  private def seeded(dir: String): Engine = {
    val e = new Engine(spark, tmpDir(dir))
    e.create("db", vectorDimension = D)
    e.addLocal("db", Seq.tabulate(100)(i => Array.tabulate(D)(j => (i + j + 1).toFloat)),
      Seq.tabulate(100)(i => s"m$i"))
    e
  }

  private def writeIds(path: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def counters(e: Engine): (Long, Any, Any) =
    (e.count("db"), e.info("db")("num_pending_deletes"), e.info("db")("num_new_vectors"))

  test("a remove whose catalog save was lost changes nothing, and its retry deletes") {
    val e = seeded("graft-lost-remove")
    assert(e.remove("db", Seq(5L)) == 1L)
    val committed = counters(e)
    assert(committed == ((99L, 1L, 99L)))
    // the crash state: the next remove's segment (named by the committed
    // pending count) holds id 2, but the catalog never counted it
    val doc = e.load("db")
    writeIds(s"${e.root}/db/deletes/d${doc.dataVersion}/s${doc.numPendingDeletes}", Seq(2L))
    assert(counters(e) == committed)
    assert(e.data("db").filter("id = 2").count() == 1L)
    assert(e.remove("db", Seq(2L)) == 1L, "the retried remove found nothing to delete")
    assert(counters(e) == ((98L, 2L, 98L)))
    assert(e.data("db").filter("id in (2, 5)").count() == 0L)
  }

  test("a deletes dir written before segments keeps loading") {
    val e = seeded("graft-legacy-deletes")
    // the pre-segment layout: each committed remove appended a part file
    // straight into deletes/d<version>
    val doc = e.load("db")
    val dir = s"${e.root}/db/deletes/d${doc.dataVersion}"
    writeIds(dir, Seq(3L, 4L))
    Catalog.save(e.root, doc.copy(numPendingDeletes = 2L,
      numNewVectors = doc.numNewVectors - 2L))(e.hadoopConf)
    assert(e.count("db") == 98L)
    // a remove on top of it writes the segment after the legacy files
    assert(e.remove("db", Seq(3L, 7L)) == 1L)
    assert(counters(e) == ((97L, 3L, 97L)))
    assert(e.data("db").filter("id in (3, 4, 7)").count() == 0L)
    // and compaction applies both
    e.compact("db")
    assert(counters(e) == ((97L, 0L, 97L)))
  }
}
