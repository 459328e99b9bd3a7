package graft.core

import scala.util.Random

import graft.SparkSpec
import graft.index.IndexParams

/** The prepared handle's driver-local serve (r18): when the pinned
  * blocks fit [[Engine.PreparedLocalMaxBytes]], serves run the same
  * kernel over a driver-resident copy in the caller thread, one heap over
  * every part — no Spark job. Hits must be BIT-equal to the job shape, including
  * with pending deletes and a fresh adds side buffer in play.
  */
class LocalServeSpec extends SparkSpec {

  private val D = 16

  private def build(dir: String): Engine = {
    val e = new Engine(spark, tmpDir(dir)) {
      override protected def chooseCodedBucketShift(nn: Long, nlist: Int,
                                                    d: Int, m: Int): Int = 2
    }
    val rnd = new Random(13L)
    val centers = Array.fill(10, D)(rnd.nextGaussian().toFloat)
    val vecs = Seq.tabulate(2400) { i =>
      val c = centers(i % 10)
      Array.tabulate(D)(j => c(j) + 0.3f * rnd.nextGaussian().toFloat)
    }
    e.create("db", vectorDimension = D)
    e.addLocal("db", vecs, Seq.tabulate(2400)(i => s"""{"i":$i}"""))
    e.train("db", params = Some(IndexParams(D, D, 4, omitOpq = true)),
      kmeansIters = 4, seed = 13L, minTrainRows = 1)
    e
  }

  test("driver-local serve is bit-equal to the job shapes (plain + filtered + deletes/adds)") {
    val eng = build("graft-local-serve")
    eng.remove("db", Seq(2L, 77L))
    val rnd = new Random(37L)
    eng.addLocal("db", Seq.fill(20)(Array.fill(D)(rnd.nextGaussian().toFloat)),
      Seq.tabulate(20)(i => s"""{"y":$i}"""))
    val prep = eng.prepareServing("db", numParts = 8, addsRefreshIntervalMs = 0)
    try {
      import org.apache.spark.sql.functions._
      val pred = get_json_object(col("metadata"), "$.i").cast("long") % 2 === 0
      val evalP = eng.compileMetaPredicate(pred).get
      val qs = Array.fill(5)(Array.fill(D)(rnd.nextGaussian().toFloat))
      def run(): Seq[Seq[Any]] = qs.toSeq.flatMap { q =>
        val doc = eng.load("db")
        (prep.queryWith(doc, q, 200, 20) ++
          prep.queryFilteredWith(doc, q, 200, 10, pred, evalP)).toSeq
          .map(h => Seq(h.rank, h.id, h.metadata, h.cosineSimilarity))
      }
      // this corpus is far under the local bound, so default = local
      prep.localServe = true
      val local = run()
      prep.localServe = false
      val job = run()
      assert(local == job, "driver-local serve diverged from the job shape")
      assert(local.nonEmpty)
    } finally prep.close()
  }
}
