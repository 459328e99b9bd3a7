package graft.core

import scala.util.Random

import graft.SparkSpec
import graft.index.IndexParams

/** The prepared handle's adaptive serving shape: under measured caller
  * concurrency (inFlight ≥ narrowDepth) the serve job runs over a
  * coalesce() wrapper of the same cached block partitions — fewer,
  * bigger tasks for driver headroom (measured 46.9 → 95.4 qps at 16
  * threads on the 35M root). Hits must be BIT-equal on both shapes: the
  * same per-partition heaps reach the same global merge whichever task
  * grouping computed them.
  */
class NarrowServeSpec extends SparkSpec {

  test("narrow serve shape returns bit-equal hits (plain + filtered)") {
    val D = 16
    val e = new Engine(spark, tmpDir("graft-narrow")) {
      override protected def chooseCodedBucketShift(nn: Long, nlist: Int,
                                                    d: Int, m: Int): Int = 2
      // a zero driver-local bound builds the JOB form this spec gates
      override protected def preparedLocalMaxBytes: Long = 0L
    }
    val rnd = new Random(7L)
    val centers = Array.fill(10, D)(rnd.nextGaussian().toFloat)
    val vecs = Seq.tabulate(2000) { i =>
      val c = centers(i % 10)
      Array.tabulate(D)(j => c(j) + 0.3f * rnd.nextGaussian().toFloat)
    }
    e.create("db", vectorDimension = D)
    e.addLocal("db", vecs, Seq.tabulate(2000)(i => s"""{"i":$i}"""))
    e.train("db", params = Some(IndexParams(D, D, 4, omitOpq = true)),
      kmeansIters = 4, seed = 7L, minTrainRows = 1)
    // explicit parts > narrowParts (max(4, defaultParallelism/4) = 4 on
    // the local[4] test session) so the narrow wrapper exists
    val prep = e.prepareServing("db", numParts = 8)
    try {
      // both the plain and filtered serves share probePrelim's job, so
      // plain-query equality pins the narrow shape for both
      val qs = Array.fill(4)(Array.fill(D)(rnd.nextGaussian().toFloat))
      def run(): Seq[Seq[Any]] = qs.toSeq.flatMap { q =>
        prep.query(q, 200, 20).toSeq
      }.map(h => Seq(h.rank, h.id, h.metadata, h.cosineSimilarity))
      prep.narrowDepth = Int.MaxValue // wide shape
      val wide = run()
      prep.narrowDepth = 1 // every serve takes the narrow shape
      val narrow = run()
      assert(narrow == wide, "narrow serve shape diverged from wide")
      assert(wide.nonEmpty)
    } finally prep.close()
  }
}
