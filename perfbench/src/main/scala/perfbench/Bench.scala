package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.api.RestServer
import graft.core.{Engine, PreparedIndex}

/** A correctness gate failed: the run prints no numbers. */
final class GateFailure(msg: String) extends RuntimeException(msg)

/** One end-to-end reading: value, unit and the samples behind it. */
final case class Reading(value: Double, unit: String, samples: Long)

/** Geometry and run sizes shared by every workload. */
object Sizing {
  val Dim = 256
  val Clusters = 64
  val Noise = 0.7
  val Corpus = 12000
  val Queries = 400
  val RecallQueries = 200
  val PrelimK = 200
  val FinalK = 20
  val KmeansIters = 3
  val TrainSeed = 7L
  val AddBatch = 256
  val RemoveBatch = 100
  /** Adds per second of `--seconds`. An add of 256 vectors with its share
    * of removes and compactions takes 1.5–2 s on 4 cores, so the writer
    * runs for somewhat longer than `--seconds`.
    */
  val AddsPerSecond = 0.75
  /** Warm-up of the in-process serve path; the HTTP path gets twice as
    * long, because its JSON and server code is still compiling after it.
    */
  val WarmUpS = 1.5
  /** Average bytes of the generated metadata, `{"c":NN,"tag":NNNNN}`. */
  val MetaBytes = 24.0
  /** Reference CI latency ceilings (test_full_eval.py:81, test_fastapi.py:194). */
  val InProcessCeilingMs = 30.0
  val HttpCeilingMs = 65.0
  val ScoreTolerance = 1e-6
}

/** Everything a workload needs: the session, engine, REST server, the
  * generated inputs and the benchmark's own ledger of the db's contents.
  */
final class Bench(val spark: SparkSession, val root: String, val seed: Long,
                  val seconds: Int, val runDir: Path) {
  import Sizing._
  val engine = new Engine(spark, root)
  val gen = new Gen(seed, Dim, Clusters, Noise)
  val ledger = new Ledger
  val db = "bench"
  val (queries, _) = gen.draw(1, Queries, 1000000000L)
  private var server: RestServer = _
  var port = -1
  val ops = new Ops
  val apiRespBytes = new Mean
  val apiReqBytes = new Mean
  val filesPerAdd = new Mean
  val userBytesAdded = new java.util.concurrent.atomic.DoubleAdder
  val non2xx = new java.util.concurrent.atomic.AtomicLong()
  val readings = scala.collection.mutable.LinkedHashMap.empty[String, Reading]
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = scala.collection.mutable.LinkedHashMap.empty[String, String]

  def put(name: String, value: Double, unit: String, samples: Long): Unit =
    readings(name) = Reading(value, unit, samples)

  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)

  def countHttp(code: Int): Unit = if (code / 100 != 2) non2xx.incrementAndGet()

  /** Runs `body`, logging its wall time to stderr. */
  def timed[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] $label%s: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def gate(ok: Boolean, what: => String): Unit = if (!ok) throw new GateFailure(what)

  def startServer(): Unit = {
    server = new RestServer(engine, 0).start()
    port = server.boundPort
  }

  def stop(): Unit = if (server != null) server.stop()

  /** Creates the db and ingests the corpus (stream 0) in one in-process
    * add, checking the ids the engine assigned against the ledger's
    * prediction.
    */
  def ingestCorpus(): Unit = {
    val (vs, ms) = gen.draw(0, Corpus, 0L)
    notes("inputs_sha256") = Vec.sha256(vs.iterator ++ queries.iterator, ms.iterator)
    engine.create(db, Dim)
    val want = ledger.add(vs)
    val got = timed(s"ingest $Corpus")(
      Trace.span("core.add")(engine.addLocal(db, vs.toSeq, ms.toSeq)))
    gate(got == want, s"ingest assigned ids $got, expected $want")
  }

  def train(): Unit = timed("train")(Trace.span("core.train") {
    engine.train(db, kmeansIters = KmeansIters, seed = TrainSeed)
  })

  def queryHits(q: Array[Float]): Array[PreparedIndex.Hit] =
    Trace.span("core.query")(engine.queryHits(db, q, PrelimK, FinalK))

  /** Checks every returned score against the benchmark's own dot product,
    * and that no returned id is dead.
    */
  def checkScores(q: Array[Float], ids: Array[Long], scores: Array[Double]): Unit = {
    val qn = Vec.normalize(q)
    var i = 0
    while (i < ids.length) {
      gate(ledger.isLive(ids(i)), s"returned id ${ids(i)} is not live")
      val want = Vec.dot(ledger.vector(ids(i)), qn)
      gate(math.abs(want - scores(i)) <= ScoreTolerance,
        s"score of id ${ids(i)} is ${scores(i)}, recomputed $want")
      i += 1
    }
  }

  /** Mean |top-k ∩ exact top-k| / k over the first RecallQueries queries;
    * the exact answers are computed on all cores.
    */
  def recall(results: Int => Array[Long]): Double = {
    val exact = java.util.stream.IntStream.range(0, RecallQueries).parallel()
      .mapToObj[Set[Long]](i => ledger.exactTopK(queries(i), FinalK).toSet)
      .toArray(n => new Array[Set[Long]](n))
    val per = (0 until RecallQueries).map(i => results(i).count(exact(i).contains).toDouble / FinalK)
    per.sum / per.length
  }

  def httpPost(conn: HttpConn, path: String, body: Array[Byte]): (Int, Array[Byte]) =
    Trace.span("api." + path.split('/').last, remote = true)(conn.post(path, body))

  /** Bytes of every file under the db's directory. */
  def dbBytes(name: String): Long = files(name).map(Files.size).sum

  def files(name: String): Seq[Path] = {
    val dir = Paths.get(root).resolve(name)
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  /** Bytes of all files under the db's directory ÷ live user bytes. */
  def spaceAmp(): Double = dbBytes(db) / Writes.userBytes(ledger.liveCount.toInt)

  def catalogEpoch(name: String): Long =
    files(name).map(_.getFileName.toString)
      .collect { case f if f.matches("catalog\\.\\d+\\.json") => f.split('.')(1).toLong }
      .foldLeft(0L)(math.max)
}
