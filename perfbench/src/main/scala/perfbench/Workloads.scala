package perfbench

import java.util.concurrent.ConcurrentHashMap

import graft.core.PreparedIndex

/** The workloads. Each has a set-up (charged to `setup_s`, warm-up
  * included) and a measured pass; a traced run makes the measured pass
  * twice, untraced then traced, and takes the end-to-end numbers from the
  * untraced one.
  */
trait Workload {
  def setup(b: Bench): Unit
  /** One measured pass of `seconds`; returns the end-to-end readings. */
  def measure(b: Bench, seconds: Double): Map[String, Reading]
  /** Gates on the state the untraced pass left, and the state metrics. */
  def finish(b: Bench): Unit
}

object Loop {
  /** `clients` threads, each sending its next call only after the previous
    * one returns, until `seconds` have passed. `op(client, i)` returns
    * whether the call succeeded. Returns the latency samples.
    */
  def closed(b: Bench, clients: Int, seconds: Double, ceilingMs: Double, count: Boolean)
            (op: (Int, Int) => Boolean): Samples = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    until(b, clients, () => System.nanoTime() < deadline, ceilingMs, count)(op)
  }

  /** [[closed]] that runs while `going()` holds. */
  def until(b: Bench, clients: Int, going: () => Boolean, ceilingMs: Double, count: Boolean)
           (op: (Int, Int) => Boolean): Samples = {
    val s = new Samples
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until clients).map { c =>
      new Thread(() => {
        var i = 0
        while (going() && errors.isEmpty) {
          val t0 = System.nanoTime()
          val ok =
            try op(c, i)
            catch {
              case g: GateFailure => errors.add(g); false
              case e: Exception => System.err.println(s"[perfbench] op failed: $e"); false
            }
          val ns = System.nanoTime() - t0
          if (ok) s.add(ns)
          if (count) b.ops.record(ok, ns / 1e6, ceilingMs)
          i += 1
        }
      }, s"perfbench-client-$c")
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    s
  }
}

/** Read-only serving of a trained db: in-process queries on 2 clients, then
  * HTTP on 2 keep-alive connections.
  */
object Serve extends Workload {
  import Sizing._
  private val Clients = 2
  /** The pass alternates in-process and HTTP windows this many times. Each
    * p50 and p90 is the median over the windows, so both paths see the same
    * conditions and a short burst of outside load moves only the windows it
    * falls in; a p99 and the rate pool all of the pass's samples.
    */
  private val Rounds = 4
  private val inproc = new ConcurrentHashMap[Int, Array[PreparedIndex.Hit]]()

  /** One in-process and one HTTP window. */
  private final case class Window(local: Samples, localWallS: Double, http: Samples)

  def setup(b: Bench): Unit = {
    b.ingestCorpus()
    b.train()
    b.startServer()
    // warm every timed path: the serving handle, JIT of the kernels and
    // the JSON path
    b.timed("warm-up")(window(b, WarmUpS, WarmUpS * 2, count = false))
  }

  def measure(b: Bench, seconds: Double): Map[String, Reading] = {
    val each = seconds / (2 * Rounds)
    val ws = (0 until Rounds).map(_ => window(b, each, each, count = true))
    val local = Samples.concat(ws.map(_.local))
    val http = Samples.concat(ws.map(_.http))
    def med(f: Window => Double) = Stats.median(ws.map(f))
    Map(
      "query_p50_ms" -> Reading(med(_.local.pctMs(50)), "ms", local.count),
      "query_p90_ms" -> Reading(med(_.local.pctMs(90)), "ms", local.count),
      "query_p99_ms" -> Reading(local.pctMs(99), "ms", local.count),
      "query_qps" -> Reading(local.count / ws.map(_.localWallS).sum, "1/s", local.count),
      "http_query_p50_ms" -> Reading(med(_.http.pctMs(50)), "ms", http.count),
      "http_query_p99_ms" -> Reading(http.pctMs(99), "ms", http.count))
  }

  private def hitsFor(b: Bench, qi: Int): Array[PreparedIndex.Hit] =
    inproc.computeIfAbsent(qi, i => b.engine.queryHits(b.db, b.queries(i), PrelimK, FinalK))

  private def window(b: Bench, localS: Double, httpS: Double, count: Boolean): Window = {
    val n = b.queries.length
    val t0 = System.nanoTime()
    val local = Loop.closed(b, Clients, localS, InProcessCeilingMs, count) { (c, i) =>
      val qi = (c * n / Clients + i) % n
      val h = b.queryHits(b.queries(qi))
      val first = inproc.putIfAbsent(qi, h)
      b.gate(first == null || first.map(_.id).sameElements(h.map(_.id)),
        s"query $qi returned different ids on repeat")
      h.length == FinalK
    }
    val localWall = (System.nanoTime() - t0) / 1e9
    val conns = Array.fill(Clients)(new HttpConn(b.port))
    val http =
      try Loop.closed(b, Clients, httpS, HttpCeilingMs, count) { (c, i) =>
        val qi = (c * n / Clients + i) % n
        val (code, body) = b.httpPost(conns(c), s"/db/${b.db}/query",
          Json.queryBody(b.queries(qi), PrelimK, FinalK))
        b.countHttp(code)
        if (code != 200) false
        else {
          val (ids, sims) = Json.hits(body)
          val want = hitsFor(b, qi)
          b.gate(ids.sameElements(want.map(_.id)) &&
            sims.sameElements(want.map(_.cosineSimilarity)),
            s"HTTP hits differ from in-process hits for query $qi")
          b.apiRespBytes.add(body.length)
          true
        }
      } finally conns.foreach(_.close())
    Window(local, localWall, http)
  }

  override def finish(b: Bench): Unit = {
    (0 until RecallQueries).foreach(hitsFor(b, _))
    inproc.forEach { (qi, h) =>
      b.checkScores(b.queries(qi), h.map(_.id), h.map(_.cosineSimilarity))
    }
    b.put("recall", b.recall(i => hitsFor(b, i).map(_.id)), "ratio", RecallQueries)
    b.put("space_amp", b.spaceAmp(), "ratio", 1)
  }
}

/** The writer's fixed schedule: HTTP adds of `AddBatch` vectors from
  * stream 2, every `RemoveEvery`-th add followed by an HTTP remove of
  * `RemoveBatch` live ids picked by a seeded generator. The schedule
  * position carries across passes, so the db's end state depends only on
  * the seed and the number of passes.
  */
object Writes {
  import Sizing._
  val RemoveEvery = 3
  private var next = 0
  private var pool: (Array[Array[Float]], Array[String]) = _
  private var removeRng: java.util.Random = _
  val addLat = new Samples
  val remLat = new Samples
  @volatile var acked = 0L

  def init(b: Bench, maxAdds: Int): Unit = {
    pool = b.gen.draw(2, maxAdds * AddBatch, 2000000000L)
    removeRng = new java.util.Random(b.seed * 7919L + 3)
  }

  /** One add, then a remove when the schedule calls for one. */
  def step(b: Bench, conn: HttpConn, count: Boolean): Unit = {
    val lo = next * AddBatch
    val vs = pool._1.slice(lo, lo + AddBatch)
    val body = Json.addBody(vs, pool._2.slice(lo, lo + AddBatch))
    val before = if (Trace.on) b.files(b.db).size else 0
    val ok = post(b, conn, s"/db/${b.db}/add", body, count, addLat)
    if (Trace.on) b.filesPerAdd.add(b.files(b.db).size - before)
    b.apiReqBytes.add(body.length)
    if (ok) {
      b.ledger.add(vs)
      acked += vs.length
      // per-layer storage counts only the traced adds
      if (Trace.on) b.userBytesAdded.add(userBytes(vs.length))
    }
    next += 1
    if (next % RemoveEvery == 0) {
      val live = b.ledger.liveIds
      val ids = Array.fill(RemoveBatch)(live(removeRng.nextInt(live.length))).distinct.sorted
      if (post(b, conn, s"/db/${b.db}/remove", Json.removeBody(ids.toSeq), count, remLat))
        b.ledger.remove(ids.toSeq)
    }
  }

  def userBytes(rows: Int): Double = rows * (8 + 4.0 * Dim + MetaBytes)

  private def post(b: Bench, conn: HttpConn, path: String, body: Array[Byte],
                   count: Boolean, lat: Samples): Boolean = {
    val t0 = System.nanoTime()
    val ok =
      try { val code = b.httpPost(conn, path, body)._1; b.countHttp(code); code == 200 }
      catch { case e: java.io.IOException => System.err.println(s"[perfbench] $path: $e"); false }
    val ns = System.nanoTime() - t0
    if (count) { b.ops.record(ok, ns / 1e6, HttpCeilingMs); if (ok) lat.add(ns) }
    ok
  }

  /** The traced run's write probe: three adds and a remove. */
  def probe(b: Bench): Unit = {
    if (pool == null) init(b, 3)
    val conn = new HttpConn(b.port)
    try (0 until 3).foreach(_ => step(b, conn, count = false)) finally conn.close()
  }
}

/** One writer sending the fixed HTTP schedule of adds and removes to the
  * trained db while one reader queries it in process.
  */
object Ingest extends Workload {
  import Sizing._
  private val WarmAdds = 1

  def setup(b: Bench): Unit = {
    b.ingestCorpus()
    b.train()
    b.startServer()
    // room for the warm-up, two passes and the traced run's write probe
    Writes.init(b, WarmAdds + 2 * addsPerPass(b.seconds) + 3)
    b.timed("warm-up") {
      Loop.closed(b, 1, 1.0, InProcessCeilingMs, count = false) { (_, i) =>
        b.queryHits(b.queries(i % b.queries.length)).nonEmpty
      }
      run(b, WarmAdds, count = false)
    }
  }

  private def addsPerPass(seconds: Double): Int = math.ceil(AddsPerSecond * seconds).toInt

  def measure(b: Bench, seconds: Double): Map[String, Reading] =
    run(b, addsPerPass(seconds), count = true)

  private def run(b: Bench, adds: Int, count: Boolean): Map[String, Reading] = {
    val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
    val acked0 = Writes.acked
    val addLat0 = Writes.addLat.count
    val remLat0 = Writes.remLat.count
    var wall = 0.0
    val writer = new Thread(() => {
      val conn = new HttpConn(b.port)
      val t0 = System.nanoTime()
      try (0 until adds).foreach(_ => Writes.step(b, conn, count))
      finally {
        wall = (System.nanoTime() - t0) / 1e9
        conn.close()
        writing.set(false)
      }
    }, "perfbench-writer")
    val t0 = System.nanoTime()
    writer.start()
    val reader = Loop.until(b, 1, () => writing.get, InProcessCeilingMs, count) { (_, i) =>
      b.queryHits(b.queries(i % b.queries.length)).length == FinalK
    }
    writer.join()
    val readWall = (System.nanoTime() - t0) / 1e9
    val addLat = Writes.addLat.since(addLat0)
    Map(
      "query_p50_ms" -> Reading(reader.pctMs(50), "ms", reader.count),
      "query_p90_ms" -> Reading(reader.pctMs(90), "ms", reader.count),
      "query_p99_ms" -> Reading(reader.pctMs(99), "ms", reader.count),
      "query_qps" -> Reading(reader.count / readWall, "1/s", reader.count),
      "http_add_p50_ms" -> Reading(addLat.pctMs(50), "ms", addLat.count),
      "http_add_p90_ms" -> Reading(addLat.pctMs(90), "ms", addLat.count),
      "add_vps" -> Reading((Writes.acked - acked0) / wall, "vectors/s", addLat.count),
      "http_remove_p50_ms" -> Reading(Writes.remLat.since(remLat0).pctMs(50), "ms",
        Writes.remLat.count - remLat0))
  }

  override def finish(b: Bench): Unit = {
    b.gate(b.engine.trainingStatus(b.db) != "in progress",
      "a train is in progress after the writer ended")
    val n = b.engine.count(b.db)
    b.gate(n == b.ledger.liveCount, s"Engine.count is $n, ledger holds ${b.ledger.liveCount}")
    val hits = (0 until RecallQueries).map(i => b.engine.queryHits(b.db, b.queries(i), PrelimK, FinalK))
    hits.zipWithIndex.foreach { case (h, i) =>
      b.checkScores(b.queries(i), h.map(_.id), h.map(_.cosineSimilarity))
    }
    val conn = new HttpConn(b.port)
    try (0 until 10).foreach { i =>
      val (code, body) = conn.post(s"/db/${b.db}/query", Json.queryBody(b.queries(i), PrelimK, FinalK))
      b.gate(code == 200, s"HTTP query returned $code")
      val (ids, sims) = Json.hits(body)
      b.gate(ids.sameElements(hits(i).map(_.id)) &&
        sims.sameElements(hits(i).map(_.cosineSimilarity)),
        s"HTTP hits differ from in-process hits for query $i")
    } finally conn.close()
    b.put("recall", b.recall(i => hits(i).map(_.id)), "ratio", RecallQueries)
    b.put("space_amp", b.spaceAmp(), "ratio", 1)
  }
}
