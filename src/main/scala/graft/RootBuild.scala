package graft

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Engine
import graft.index.IndexParams

/** Build-and-KEEP a trained engine root at a named directory — the
  * profiling companion to ScaleEval (which sweeps its temp root): the
  * corpus, params, and train chain are ScaleEval's exactly, so
  * measurements run against this root (ScaleEval's GRAFT_SCALE_ROOT)
  * see the same geometry ScaleEval builds. Env knobs: GRAFT_SCALE_N/D/OPQ/PQM
  * (ScaleEval's), GRAFT_ROOT_DIR (required).
  */
object RootBuild {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("GRAFT_SCALE_N", "1000000").toLong
    val d = sys.env.getOrElse("GRAFT_SCALE_D", "768").toInt
    val withOpq = sys.env.getOrElse("GRAFT_SCALE_OPQ", "true").toBoolean
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val root = sys.env("GRAFT_ROOT_DIR")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val seed = 42L
    val rnd = new Random(seed)
    val numCenters = math.max(10, (n / 500).toInt)
    val centers = Array.fill(numCenters, d)(rnd.nextGaussian().toFloat)
    val bcCenters = spark.sparkContext.broadcast(centers)

    val engine = new Engine(spark, root)
    engine.create("scale", vectorDimension = d)
    val corpus = spark.range(0L, n, 1L, 64)
      .map(i => (ScaleEval.rowVector(i, bcCenters.value, d, seed).toSeq, s"""{"i":$i}"""))
      .toDF("vector", "metadata")
      .select(col("vector").cast("array<float>").as("vector"), col("metadata"))
    engine.add("scale", corpus)
    val params =
      if (withOpq) {
        val pca = sys.env.getOrElse("GRAFT_SCALE_PCA", "256").toInt
        val opqDim = sys.env.getOrElse("GRAFT_SCALE_OPQ_DIM", "128").toInt
        val m = sys.env.getOrElse("GRAFT_SCALE_PQM", "32").toInt
        Some(IndexParams(pca, opqDim, m, omitOpq = false))
      }
      else sys.env.get("GRAFT_SCALE_PQM").map { m =>
        val pca = sys.env.getOrElse("GRAFT_SCALE_PCA", d.toString).toInt
        IndexParams(pca, pca, m.toInt, omitOpq = true)
      }
    val t0 = System.nanoTime()
    engine.train("scale", params = params, useTwoLevelClustering = Some(true),
      seed = seed)
    println(f"trained in ${(System.nanoTime() - t0) / 1e9}%.0f s; root=$root")
    val doc = engine.load("scale")
    println(s"nlist=${doc.numClusters} nprobe=${doc.nProbe} shift=${doc.codedBucketShift}")
    spark.stop()
  }
}
