package graft.core

import scala.util.Random

import graft.SparkSpec
import graft.index.IndexParams

/** The serving coarse chunk scans must actually CARRY the pre-serialized
  * parquet predicate in their relation options (Engine.withReadOptions is
  * a plan transform — a silent non-match would quietly revert to
  * unpruned reads with pushdown off, costing a 2× decode at scale with
  * no correctness signal). Lives in graft.core to reach the
  * private[core] store.chunks.
  */
class ServingScanInjectionSpec extends SparkSpec {

  private val D = 16
  private val Seed = 5L

  private lazy val engine: Engine = {
    val e = new Engine(spark, tmpDir("graft-inj-serve")) {
      override protected def chooseCodedBucketShift(n: Long, nlist: Int,
                                                    d: Int, m: Int): Int = 2
    }
    val rnd = new Random(Seed)
    val centers = Array.fill(10, D)(rnd.nextGaussian().toFloat)
    val vecs = Seq.tabulate(2000) { i =>
      val c = centers(i % 10)
      Array.tabulate(D)(j => c(j) + 0.3f * rnd.nextGaussian().toFloat)
    }
    e.create("db", vectorDimension = D)
    e.addLocal("db", vecs, Seq.tabulate(2000)(i => s"""{"i":$i}"""))
    e.train("db", params = Some(IndexParams(D, D, 4, omitOpq = true)),
      kmeansIters = 4, seed = Seed, minTrainRows = 1)
    e
  }

  test("serving chunk scans carry the injected parquet predicate; main-session scans do not") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val doc = engine.load("db")
    val probes = Array.range(0, math.min(8, doc.numClusters))
    val key = org.apache.parquet.hadoop.ParquetInputFormat.FILTER_PREDICATE

    val chunks = engine.store.chunks(doc, probes)
    assert(chunks.nonEmpty)
    chunks.foreach { df =>
      val rels = df.queryExecution.analyzed.collect {
        case lr: LogicalRelation => lr.relation.asInstanceOf[HadoopFsRelation]
      }
      assert(rels.nonEmpty, "no parquet relation under the serving chunk plan")
      rels.foreach { fs =>
        assert(fs.options.contains(key),
          "serving chunk relation lost the injected predicate option")
        assert(fs.options(key).nonEmpty)
      }
      // and the serving session really has Spark-side pushdown off
      assert(df.sparkSession.conf.get("spark.sql.parquet.filterPushdown") == "false")
    }

    val mainScan = engine.store.prunedLive(doc, probes)
    val mainRels = mainScan.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation.asInstanceOf[HadoopFsRelation]
    }
    assert(mainRels.nonEmpty)
    mainRels.foreach(fs => assert(!fs.options.contains(key),
      "main-session scan must keep Spark's own pushdown (no injection)"))
  }
}
