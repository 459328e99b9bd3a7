package graft.api

import java.io.OutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.core.Engine
import graft.index.{Heuristics, IndexParams}

/** M1 — the HTTP transport over [[Engine]]: the reference's REST surface
  * (api/fastapi.py:67-470) re-expressed on the JDK's built-in
  * `com.sun.net.httpserver` (zero extra dependencies; Jackson — already on
  * the Spark classpath — handles JSON). Route-for-route parity:
  *
  *   GET  /health, /test                    → {"status":"healthy"}
  *   POST /db/create                        → create (400 on duplicate)
  *   GET  /db/{name}/info                   → {"db_info": "<json string>"}
  *   POST /db/{name}/add                    → add [(vector, metadata)] rows
  *   POST /db/{name}/remove                 → delete ids
  *   POST /db/{name}/train                  → async train (400 if running)
  *   GET  /db/{name}/train                  → {"status": ...}
  *   POST /db/{name}/query                  → top-k {metadata, ids, cosine_similarity}
  *   POST /db/{name}/save                   → durability no-op (see below)
  *   POST /db/{name}/reload                 → drop cached state, re-read catalog
  *   POST /db/{name}/delete                 → drop the db
  *   GET  /db/find_indexes_to_train         → M4 sweep → async queue
  *   GET  /db/get_initial_training_queue    → the M3 queue contents
  *   GET  /db/view_cache                    → M7 cache introspection
  *   POST /db/{name}/remove_from_cache      → evict one db's cached state
  *   POST /db/update_max_memory_usage       → M8 cache budget
  *
  * Error shape matches FastAPI: `{"detail": "..."}` with the same status
  * codes (404 "Database not found", 400 duplicate-create / double-train).
  *
  * Design notes vs the reference:
  *   - `save` is a validated no-op: every Engine mutation commits through
  *     the catalog epoch before the verb returns, so there is no dirty
  *     in-process Faiss index to flush (mindb.py's save exists because its
  *     index mutates in RAM). The route stays for client compatibility.
  *   - The reference's module-global `operations` dict is Engine-owned
  *     here (`trainingStatus`), so status survives any number of HTTP
  *     workers — no server-side mutable training state beyond the queues.
  *   - M3 initial-training and M4 find-indexes queues are drained by ONE
  *     background worker each (the reference also trains serially,
  *     fastapi.py:133-148/392-406): training is a cluster-wide job, so
  *     queueing is about WHEN to start it, not about parallel workers.
  *   - Requests are served on a cached thread pool; Engine verbs do their
  *     own per-db locking, and the query path is concurrency-proven
  *     (ScaleEval's 16-thread block), so no transport-level lock exists —
  *     unlike the reference, whose instance lock serializes every verb
  *     (mindb.py:52-53).
  */
final class RestServer(engine: Engine, port: Int = 8000,
                       trainSeam: RestServer.TrainSeam = RestServer.TrainSeam.none) {
  import RestServer.HttpError

  private val mapper = new ObjectMapper()
  // the JDK server ships with Nagle ON; against delayed ACKs that is the
  // classic +40 ms per response (EVAL_r15 published-geometry measured
  // http p50 64.3 ms vs 18.5 in-process — the delta IS the timer)
  RestServer.enableNoDelay()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val pool = Executors.newCachedThreadPool()
  server.setExecutor(pool)

  /** Per-db training budget (reference CreateDBInput.max_memory_usage,
    * fastapi.py:50-53) — feeds train's memory model exactly as the
    * reference's stored attribute feeds get_training_params.
    */
  private val dbMaxMemory =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  // M3/M4 queues + their single drainer threads (started lazily, one at a
  // time — enqueueing while a drainer runs just extends its work list)
  private val initialQueue = new ConcurrentLinkedQueue[String]()
  private val trainingQueue = new ConcurrentLinkedQueue[String]()
  private val drainers = Executors.newFixedThreadPool(2)
  @volatile private var initialDraining = false
  @volatile private var sweepDraining = false

  def boundPort: Int = server.getAddress.getPort

  def start(): RestServer = { server.start(); this }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    drainers.shutdownNow()
    drainers.awaitTermination(10, TimeUnit.SECONDS)
  }

  server.createContext("/", (ex: HttpExchange) => {
    try route(ex)
    catch {
      case e: HttpError => reply(ex, e.code, obj("detail" -> e.getMessage))
      case NonFatal(e) =>
        reply(ex, 500, obj("detail" -> String.valueOf(e.getMessage)))
    } finally ex.close()
  })

  // ------------------------------------------------------------- routing

  private def fail(code: Int, msg: String): Nothing =
    throw new HttpError(code, msg)
  private def notFound(): Nothing = fail(404, "Database not found")

  private def route(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    val segs = ex.getRequestURI.getPath.stripPrefix("/").split("/")
      .filter(_.nonEmpty)
      .map(URLDecoder.decode(_, StandardCharsets.UTF_8))
    (method, segs.toList) match {
      case ("GET", "health" :: Nil) | ("GET", "test" :: Nil) =>
        reply(ex, 200, obj("status" -> "healthy"))
      case ("POST", "db" :: "create" :: Nil) => createDb(ex)
      case ("GET", "db" :: "view_cache" :: Nil) => viewCache(ex)
      case ("GET", "db" :: "find_indexes_to_train" :: Nil) => findToTrain(ex)
      case ("GET", "db" :: "get_initial_training_queue" :: Nil) =>
        reply(ex, 200, obj("initial_training_queue" ->
          arr(initialQueue.toArray(Array.empty[String]).toSeq)))
      case ("POST", "db" :: "update_max_memory_usage" :: Nil) =>
        engine.updateMaxMemoryUsage(
          longField(body(ex), "max_memory_usage", nullIsAbsent = false)
            .getOrElse(fail(400, "max_memory_usage must be an integer")))
        reply(ex, 200, obj("message" -> "Max memory usage updated successfully"))
      case ("GET", "db" :: name :: "info" :: Nil) => info(ex, name)
      case ("POST", "db" :: name :: "add" :: Nil) => add(ex, name)
      case ("POST", "db" :: name :: "remove" :: Nil) => removeIds(ex, name)
      case ("POST", "db" :: name :: "train" :: Nil) => startTrain(ex, name)
      case ("GET", "db" :: name :: "train" :: Nil) =>
        reply(ex, 200, obj("status" -> engine.trainingStatus(name)))
      case ("POST", "db" :: name :: "query" :: Nil) => query(ex, name)
      case ("POST", "db" :: name :: "save" :: Nil) =>
        if (!engine.exists(name)) notFound()
        reply(ex, 200, obj("message" -> "Database saved successfully"))
      case ("POST", "db" :: name :: "reload" :: Nil) => reload(ex, name)
      case ("POST", "db" :: name :: "delete" :: Nil) => deleteDb(ex, name)
      case ("POST", "db" :: name :: "remove_from_cache" :: Nil) =>
        engine.removeFromCache(name)
        reply(ex, 200, obj("message" -> "Database removed from cache"))
      case _ => fail(404, "Not Found")
    }
  }

  // -------------------------------------------------------------- verbs

  private def createDb(ex: HttpExchange): Unit = {
    val in = body(ex)
    val name = in.path("name").asText()
    if (engine.exists(name))
      fail(400, "Database with this name already exists")
    // both sizes are validated before anything is created
    val dim = intField(in, "vector_dimension", -1, nullIsAbsent = true)
    val maxMemory = longField(in, "max_memory_usage", nullIsAbsent = true)
    try engine.create(name, vectorDimension = dim)
    catch { case e: IllegalArgumentException => fail(400, e.getMessage) }
    maxMemory.foreach(dbMaxMemory(name) = _)
    reply(ex, 200, obj("message" -> "Database created successfully"))
  }

  private def info(ex: HttpExchange, name: String): Unit = {
    if (!engine.exists(name)) notFound()
    val m = engine.info(name)
    val o = mapper.createObjectNode()
    m.foreach {
      case (k, v: String) => o.put(k, v)
      case (k, v: Long) => o.put(k, v)
      case (k, v: Int) => o.put(k, v)
      case (k, v: Double) => o.put(k, v)
      case (k, v: Boolean) => o.put(k, v)
      case (k, v) => o.put(k, String.valueOf(v))
    }
    // the reference returns db_info as a JSON-ENCODED STRING inside the
    // envelope (fastapi.py:103-105 json.dumps) — match that exactly so a
    // reference client's double-parse keeps working
    reply(ex, 200, obj("db_info" -> mapper.writeValueAsString(o)))
  }

  private def add(ex: HttpExchange, name: String): Unit = {
    if (!engine.exists(name)) notFound()
    val rows = body(ex).path("add_data")
    if (!rows.isArray || rows.size() == 0)
      fail(400, "add_data must be a non-empty list of (vector, metadata)")
    val vectors = Array.newBuilder[Array[Float]]
    val metas = Array.newBuilder[String]
    rows.forEach { r =>
      val vec = r.get(0)
      if (vec == null || !vec.isArray)
        fail(400, "each add_data entry must start with a vector")
      vectors += finiteFloats(vec, "add_data vector")
      val meta = if (r.size() > 1) r.get(1) else null
      metas += (if (meta == null || meta.isNull) null
                else if (meta.isTextual) meta.asText()
                else mapper.writeValueAsString(meta))
    }
    // the engine reports a bad batch (dimension mismatch, empty input, the
    // flat memory guard) as IllegalArgumentException; any other failure is
    // the server's and answers 500 through the route handler
    try engine.addLocal(name, vectors.result().toSeq, metas.result().toSeq)
    catch { case e: IllegalArgumentException => fail(400, e.getMessage) }
    // M3 — initial-training trigger, queued + drained off-request exactly
    // like the reference (fastapi.py:173-186)
    maybeQueueInitial(name)
    reply(ex, 200, obj("message" -> "Vectors and text added successfully"))
  }

  private def removeIds(ex: HttpExchange, name: String): Unit = {
    if (!engine.exists(name)) notFound()
    val idsNode = body(ex).path("ids")
    if (!idsNode.isArray) fail(400, "ids must be a list of integers")
    val ids = Array.newBuilder[Long]
    // asLong() read "abc", null and {} as 0 and true or 1.7 as 1
    idsNode.forEach { n =>
      if (n.isIntegralNumber && n.canConvertToLong) ids += n.longValue()
      else fail(400, "ids must be a list of integers")
    }
    val xs = ids.result().toSeq
    try engine.remove(name, xs)
    catch { case e: IllegalArgumentException => fail(400, e.getMessage) }
    reply(ex, 200, obj("message" -> s"${xs.length} vectors removed successfully"))
  }

  private def startTrain(ex: HttpExchange, name: String): Unit = {
    if (!engine.exists(name)) notFound()
    // optional body: the reference declares TrainDBInput (fastapi.py:56-61)
    // with explicit pca/opq/pq/two-level overrides; absent → heuristics.
    // omit_opq is honored INDEPENDENTLY of the dimension fields: a body
    // carrying only omit_opq layers it over the db's heuristic dims
    // (defaultIndexParams). When dimension overrides are present but
    // omit_opq is absent, the default is TrainDBInput's declared False
    // (fastapi.py:61) — an explicit-params caller gets the declared
    // schema's semantics, while the body-less path keeps the reference's
    // effective server default (training_params.py omit_opq=True) via
    // params=None → heuristics.
    val in = body(ex)
    val omitOpq = boolField(in, "omit_opq")
    val twoLevel = boolField(in, "use_two_level_clustering")
    val hasDims = in.hasNonNull("pca_dimension") ||
      in.hasNonNull("opq_dimension") || in.hasNonNull("compressed_vector_bytes")
    val params =
      if (hasDims)
        Some(IndexParams(
          intField(in, "pca_dimension", -1, nullIsAbsent = true),
          intField(in, "opq_dimension", -1, nullIsAbsent = true),
          intField(in, "compressed_vector_bytes", -1, nullIsAbsent = true),
          omitOpq = omitOpq.getOrElse(false)))
      else omitOpq.flatMap { omit =>
        val dim = engine.load(name).vectorDimension
        // train will reject the empty db regardless
        if (dim > 0) Some(Heuristics.defaultIndexParams(dim).copy(omitOpq = omit))
        else None
      }
    try
      engine.trainAsync(name, params = params, useTwoLevelClustering = twoLevel,
        maxMemoryUsage = dbMaxMemory.getOrElse(name, Engine.DefaultMaxMemoryUsage),
        kmeansIters = trainSeam.kmeansIters,
        onSnapshot = () => trainSeam.onSnapshot())
    catch {
      case _: Engine.AlreadyTrainingException =>
        fail(400, "This database is in the process of training already")
    }
    reply(ex, 200, obj("status" -> "training successfully initiated"))
  }

  private def query(ex: HttpExchange, name: String): Unit = {
    if (!engine.exists(name)) notFound()
    val in = body(ex)
    val qNode = in.path("query_vector")
    if (!qNode.isArray || qNode.size() == 0)
      fail(400, "query_vector must be a non-empty list of floats")
    val q = finiteFloats(qNode, "query_vector")
    val prelimK = intField(in, "preliminary_top_k", 500)
    val finalK = intField(in, "final_top_k", 100)
    val hits =
      try engine.queryHits(name, q, prelimK, finalK)
      catch { case e: IllegalArgumentException => fail(400, e.getMessage) }
    val meta = mapper.createArrayNode()
    val ids = mapper.createArrayNode()
    val sims = mapper.createArrayNode()
    hits.foreach { h =>
      // metadata is a dict in the reference's QueryOutput (fastapi.py:44-48);
      // stored strings that parse as JSON objects round-trip as objects
      meta.add(
        if (h.metadata == null) mapper.createObjectNode()
        else try mapper.readTree(h.metadata)
        catch { case NonFatal(_) =>
          mapper.createObjectNode().put("metadata", h.metadata) })
      ids.add(h.id)
      sims.add(h.cosineSimilarity)
    }
    val o = mapper.createObjectNode()
    o.set[ObjectNode]("metadata", meta)
    o.set[ObjectNode]("ids", ids)
    o.set[ObjectNode]("cosine_similarity", sims)
    reply(ex, 200, o)
  }

  /** A JSON array of finite numbers as floats, else 400. Jackson's
    * floatValue() reads a string, null, boolean or object as 0.0 and an
    * out-of-float-range number as Infinity; the reference's np.float32
    * conversion raises on all of them (input_validation.py:77-94).
    */
  private def finiteFloats(arr: JsonNode, what: String): Array[Float] = {
    val v = new Array[Float](arr.size())
    var i = 0
    while (i < v.length) {
      val e = arr.get(i)
      val f = if (e.isNumber) e.floatValue() else Float.NaN
      if (!java.lang.Float.isFinite(f))
        fail(400, s"$what element $i must be a finite number")
      v(i) = f
      i += 1
    }
    v
  }

  /** An optional int field: absent → `default`; anything but a JSON
    * integer in int range → 400 (asInt read "abc" as the default and 1.7
    * as 1). `nullIsAbsent` lets an explicit null mean absent, for the
    * fields the reference declares `Optional`.
    */
  private def intField(in: JsonNode, key: String, default: Int,
                       nullIsAbsent: Boolean = false): Int =
    longField(in, key, nullIsAbsent).fold(default) { v =>
      if (v.isValidInt) v.toInt else fail(400, s"$key must be an integer")
    }

  /** An optional JSON boolean: absent or null → None; anything else → 400
    * (asBoolean read "yes", "abc" and {} as false and 1 as true).
    */
  private def boolField(in: JsonNode, key: String): Option[Boolean] = {
    val n = in.get(key)
    if (n == null || n.isNull) None
    else if (n.isBoolean) Some(n.booleanValue())
    else fail(400, s"$key must be a boolean")
  }

  /** [[intField]]'s Long twin, for memory sizes: None when absent. */
  private def longField(in: JsonNode, key: String,
                        nullIsAbsent: Boolean): Option[Long] = {
    val n = in.get(key)
    if (n == null || (nullIsAbsent && n.isNull)) None
    else if (n.isIntegralNumber && n.canConvertToLong) Some(n.longValue())
    else fail(400, s"$key must be an integer")
  }

  private def reload(ex: HttpExchange, name: String): Unit = {
    if (!engine.exists(name)) notFound()
    try {
      engine.removeFromCache(name)
      engine.load(name)
      reply(ex, 200, obj("message" -> "Database reloaded successfully"))
    } catch { case NonFatal(e) => fail(500, String.valueOf(e.getMessage)) }
  }

  private def deleteDb(ex: HttpExchange, name: String): Unit = {
    if (!engine.exists(name)) notFound()
    engine.delete(name)
    dbMaxMemory.remove(name)
    reply(ex, 200, obj("message" -> "Database deleted successfully"))
  }

  private def viewCache(ex: HttpExchange): Unit = {
    val v = engine.viewCache()
    val o = mapper.createObjectNode()
    o.set[ObjectNode]("cache_keys", arr(v.cachedDbs))
    o.put("current_memory_usage", v.currentMemoryUsage)
    o.put("max_memory_usage", v.maxMemoryUsage)
    reply(ex, 200, o)
  }

  // ------------------------------------------------------ training queues

  /** M3 — queue an initial train when the add crossed the threshold
    * (reference check_needs_initial_training via fastapi.py:173-186).
    * The count comes from the catalog doc's counters — an O(1) parsed-doc
    * read, matching the reference's in-memory `num_vectors` attribute
    * (fastapi.py:173) — NOT a Spark count job on the add request path.
    */
  private def maybeQueueInitial(name: String): Unit = {
    val doc = engine.load(name)
    val live = doc.numVectorsTrainedOn - doc.numTrainedVectorsRemoved +
      doc.numNewVectors
    val due = Heuristics.needsInitialTraining(
      live, !doc.isTrained,
      engine.trainingStatus(name) == "in progress")
    if (due) synchronized { // contains-then-add made atomic (the reference's
      // initial_training_queue_lock, fastapi.py:178-183)
      if (!initialQueue.contains(name)) {
        initialQueue.add(name)
        drainInitial()
      }
    }
  }

  private def drainInitial(): Unit = synchronized {
    if (initialDraining) return
    initialDraining = true
    drainers.submit(new Runnable {
      def run(): Unit = {
        try {
          var n = initialQueue.peek()
          while (n != null) {
            try engine.train(n,
              maxMemoryUsage = dbMaxMemory.getOrElse(n, Engine.DefaultMaxMemoryUsage),
              kmeansIters = trainSeam.kmeansIters,
              onSnapshot = () => trainSeam.onSnapshot())
            catch { case NonFatal(_) => () } // fastapi.py:140-144 swallows
            initialQueue.remove(n)
            n = initialQueue.peek()
          }
        } finally RestServer.this.synchronized {
          // clear the flag and re-check UNDER THE SAME LOCK enqueuers take:
          // a name added between the final peek()==null and this point
          // would otherwise see draining=true and never be drained
          initialDraining = false
          if (!initialQueue.isEmpty) drainInitial()
        }
      }
    })
  }

  /** M4 — the maintenance sweep verb (fastapi.py:409-438): collect every
    * db whose size/coverage makes training due, queue them, train serially
    * in the background, return the queue.
    */
  private def findToTrain(ex: HttpExchange): Unit = {
    val queued = trainingQueue.toArray(Array.empty[String]).toSeq
    if (queued.nonEmpty) { // a sweep is already draining — report it, and
      // kick the drainer in case it exited between its final peek and an
      // enqueue (drainSweep is a no-op while one is genuinely running)
      drainSweep()
      reply(ex, 200, obj("training_queue" -> arr(queued)))
      return
    }
    val due = engine.listDatabases().filter { n =>
      if (initialQueue.contains(n)) false
      else {
        val doc = engine.load(n)
        val cnt = engine.count(n)
        val busy = engine.trainingStatus(n) == "in progress"
        Heuristics.needsInitialTraining(cnt, !doc.isTrained, busy) ||
          (doc.isTrained &&
            Heuristics.needsRetraining(cnt, engine.coverageRatio(n), busy))
      }
    }
    due.foreach(trainingQueue.add)
    if (due.nonEmpty) drainSweep()
    reply(ex, 200, obj("training_queue" -> arr(due)))
  }

  private def drainSweep(): Unit = synchronized {
    if (sweepDraining) return
    sweepDraining = true
    drainers.submit(new Runnable {
      def run(): Unit = {
        try {
          var n = trainingQueue.peek()
          while (n != null) {
            try engine.train(n,
              maxMemoryUsage = dbMaxMemory.getOrElse(n, Engine.DefaultMaxMemoryUsage),
              kmeansIters = trainSeam.kmeansIters,
              onSnapshot = () => trainSeam.onSnapshot())
            catch { case NonFatal(_) => () }
            trainingQueue.remove(n)
            n = trainingQueue.peek()
          }
        } finally RestServer.this.synchronized {
          sweepDraining = false // same lost-wakeup guard as drainInitial
          if (!trainingQueue.isEmpty) drainSweep()
        }
      }
    })
  }

  // --------------------------------------------------------------- plumbing

  /** The request's JSON body; an empty body reads as `{}`. A body that
    * does not parse answers 422, FastAPI's status for a JSON decode error.
    */
  private def body(ex: HttpExchange): JsonNode = {
    val bytes = ex.getRequestBody.readAllBytes()
    if (bytes.isEmpty) mapper.createObjectNode()
    else try mapper.readTree(bytes)
    catch {
      case e: com.fasterxml.jackson.core.JsonProcessingException =>
        fail(422, s"JSON decode error: ${e.getOriginalMessage}")
    }
  }

  private def obj(kvs: (String, Any)*): ObjectNode = {
    val o = mapper.createObjectNode()
    kvs.foreach {
      case (k, v: String) => o.put(k, v)
      case (k, v: Long) => o.put(k, v)
      case (k, v: Int) => o.put(k, v)
      case (k, v: Double) => o.put(k, v)
      case (k, v: Boolean) => o.put(k, v)
      case (k, v: JsonNode) => o.set[ObjectNode](k, v)
      case (k, v) => o.put(k, String.valueOf(v))
    }
    o
  }

  private def arr(xs: Seq[String]): ArrayNode = {
    val a = mapper.createArrayNode()
    xs.foreach(a.add)
    a
  }

  private def reply(ex: HttpExchange, code: Int, node: JsonNode): Unit = {
    val bytes = mapper.writeValueAsBytes(node)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os: OutputStream = ex.getResponseBody
    os.write(bytes)
    os.flush()
  }
}

object RestServer {
  /** FastAPI HTTPException counterpart: a typed (status, detail) pair the
    * top-level handler renders as `{"detail": ...}`.
    */
  private final class HttpError(val code: Int, msg: String)
    extends RuntimeException(msg)

  /** Test seam for every server-initiated train (POST /train and the
    * M3/M4 queue drainers) — the HTTP counterpart of the `onSnapshot`
    * hook [[graft.core.Engine.train]] already exposes, so the reference's
    * threading tests (test_fastapi_threading.py:57-174: concurrent add /
    * remove while a train runs) can pin a train inside its snapshot
    * window deterministically OVER REAL SOCKETS. Production servers use
    * [[TrainSeam.none]] (a no-op hook, full kmeans iters).
    */
  final class TrainSeam(@volatile var onSnapshot: () => Unit,
                        val kmeansIters: Int)
  object TrainSeam {
    val none = new TrainSeam(() => (), 25)
  }

  /** TCP_NODELAY for `com.sun.net.httpserver` — a JVM-global property
    * the JDK reads ONCE, in `ServerConfig`'s static initializer, i.e.
    * at the first touch of any `HttpServer` class in the process
    * (ADVICE r15). Consequences, both accepted and named here:
    * (a) if some other code created an HttpServer before the first
    * RestServer, this set is silently ineffective — the JDK exposes no
    * way to observe whether `ServerConfig`'s static init already ran,
    * so the too-late case CANNOT be detected; we log the remedy
    * (`-Dsun.net.httpserver.nodelay=true` at launch) unconditionally
    * once instead;
    * (b) conversely it force-enables nodelay for unrelated
    * com.sun.net.httpserver servers created later in this JVM — a
    * latency-over-batching default we consider safe. Without nodelay,
    * Nagle + delayed-ACK adds ~40 ms to every response (the r15 HTTP
    * p50 was 64.3 ms vs 20.0 after — EVAL_r15).
    */
  private def enableNoDelay(): Unit =
    if (System.getProperty("sun.net.httpserver.nodelay") != null) {
      // an explicit pre-set value (possibly "false" = Nagle stays on)
      // is respected — say so at debug rather than silently doing
      // nothing (ADVICE r16)
      org.slf4j.LoggerFactory.getLogger(classOf[RestServer]).debug(
        "sun.net.httpserver.nodelay already set to '" +
          System.getProperty("sun.net.httpserver.nodelay") +
          "' - respecting the existing value")
    } else {
      System.setProperty("sun.net.httpserver.nodelay", "true")
      // no JDK API observes whether ServerConfig's static init already
      // ran (Class.forName(initialize=false) can't tell), so we can't
      // DETECT the too-late case — only name it once, with the remedy
      org.slf4j.LoggerFactory.getLogger(classOf[RestServer]).info(
        "sun.net.httpserver.nodelay set at RestServer init; the JDK " +
          "reads it once at the first HttpServer class load - if an " +
          "HttpServer was created earlier in this JVM this set is " +
          "ineffective and responses pay Nagle's ~40 ms. Launch with " +
          "-Dsun.net.httpserver.nodelay=true to be immune.")
    }
}
