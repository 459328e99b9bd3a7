package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.api.RestServer
import graft.core.Engine

/** M1 — the HTTP transport (api/fastapi.py:67-470) exercised over real
  * sockets: route shapes, status codes, FastAPI error envelopes, and the
  * end-to-end lifecycle (create → add → query → info → remove → cache
  * verbs → train status → delete) against a live [[RestServer]] on an
  * ephemeral port.
  */
class RestServerSpec extends SparkSpec {

  private lazy val engine = new Engine(spark, tmpDir("graft-rest"))
  private lazy val server = new RestServer(engine, port = 0).start()
  private lazy val base = s"http://127.0.0.1:${server.boundPort}"
  private val client = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  override def afterAll(): Unit = {
    server.stop()
    super.afterAll()
  }

  private def get(path: String): (Int, JsonNode) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), mapper.readTree(r.body()))
  }

  private def post(path: String, json: String = "", to: => String = base): (Int, JsonNode) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(to + path))
        .POST(HttpRequest.BodyPublishers.ofString(json))
        .header("Content-Type", "application/json").build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), mapper.readTree(r.body()))
  }

  private def vecJson(v: Seq[Double]): String = v.mkString("[", ",", "]")

  test("health + test endpoints (fastapi.py:67-73)") {
    assert(get("/health") == ((200, mapper.readTree("""{"status":"healthy"}"""))))
    assert(get("/test")._2.get("status").asText() == "healthy")
  }

  test("create: success, duplicate 400, invalid name 400 (fastapi.py:108-119)") {
    val (c1, b1) = post("/db/create", """{"name":"restdb","vector_dimension":8}""")
    assert(c1 == 200 && b1.get("message").asText() == "Database created successfully")
    val (c2, b2) = post("/db/create", """{"name":"restdb"}""")
    assert(c2 == 400 &&
      b2.get("detail").asText() == "Database with this name already exists")
    val (c3, b3) = post("/db/create", """{"name":"bad/name"}""")
    assert(c3 == 400 && b3.get("detail").asText().contains("invalid database name"))
  }

  test("add + query round-trip with dict metadata (fastapi.py:151-188, 341-353)") {
    // 8-d one-hot-ish corpus: row i points along axis i%8 with weight 1+i
    val rows = (0 until 24).map { i =>
      val v = Array.fill(8)(0.01)
      v(i % 8) = 1.0 + i
      s"""[${vecJson(v.toSeq)}, {"tag": $i}]"""
    }
    val (ca, ba) = post("/db/restdb/add",
      s"""{"add_data": [${rows.mkString(",")}]}""")
    assert(ca == 200 && ba.get("message").asText() ==
      "Vectors and text added successfully")

    // query along axis 3: best match is the largest row on that axis
    // (i = 19: axis 19%8=3, weight 20), cosine-descending
    val q = Array.fill(8)(0.0); q(3) = 1.0
    val (cq, bq) = post("/db/restdb/query",
      s"""{"query_vector": ${vecJson(q.toSeq)}, "final_top_k": 3}""")
    assert(cq == 200)
    val ids = (0 until 3).map(bq.get("ids").get(_).asLong())
    val sims = (0 until 3).map(bq.get("cosine_similarity").get(_).asDouble())
    assert(ids.head == 19L) // axis-3 rows: i = 3, 11, 19; 19 has max weight
    assert(sims == sims.sorted.reverse)
    assert(Set(3L, 11L, 19L) == ids.toSet)
    // metadata round-trips as a dict, aligned with ids
    assert(bq.get("metadata").get(0).get("tag").asInt() == 19)
  }

  test("query validation + 404 (fastapi.py:341-353)") {
    val (cm, bm) = post("/db/nosuch/query", """{"query_vector":[1,0]}""")
    assert(cm == 404 && bm.get("detail").asText() == "Database not found")
    val (cd, _) = post("/db/restdb/query", """{"query_vector":[1,0,0]}""")
    assert(cd == 400) // dimension mismatch
  }

  test("add: a dimension mismatch raised inside the Spark job is the client's 400") {
    val (c, b) = post("/db/restdb/add", """{"add_data": [[[1, 0, 0], {"x": 1}]]}""")
    assert(c == 400 && b.get("detail").asText().contains("dimension mismatch"), s"$c $b")
  }

  test("add: a server-side fault answers 500, not the client's 400") {
    val faulty = new Engine(spark, tmpDir("graft-rest-fault")) {
      override def addLocal(name: String, vectors: Seq[Array[Float]],
                            metadata: Seq[String]): (Long, Long) =
        throw new java.io.IOException("injected storage fault")
    }
    val srv = new RestServer(faulty, port = 0).start()
    try {
      val url = s"http://127.0.0.1:${srv.boundPort}"
      assert(post("/db/create", """{"name":"faultdb","vector_dimension":2}""", url)._1 == 200)
      val (c, b) = post("/db/faultdb/add", """{"add_data": [[[1, 0], {"x": 1}]]}""", url)
      assert(c == 500 && b.get("detail").asText().contains("injected storage fault"), s"$c $b")
    } finally srv.stop()
  }

  test("hostile vector elements and k values are rejected with 400, nothing stored") {
    def info(): Long =
      mapper.readTree(get("/db/restdb/info")._2.get("db_info").asText())
        .get("num_vectors").asLong()
    val before = info()
    val ok = Seq.fill(7)("0.5")
    // Jackson's floatValue() reads each of these as 0.0 or Infinity
    Seq("\"abc\"", "null", "true", "{}", "[]", "1e39", "-1e39").foreach { bad =>
      val vec = (bad +: ok).mkString("[", ",", "]")
      val (ca, ba) = post("/db/restdb/add", s"""{"add_data": [[$vec, {"x": 1}]]}""")
      assert(ca == 400, s"add with element $bad: $ca $ba")
      assert(ba.get("detail").asText().contains("finite number"))
      val (cq, bq) = post("/db/restdb/query", s"""{"query_vector": $vec}""")
      assert(cq == 400, s"query with element $bad: $cq $bq")
      assert(bq.get("detail").asText().contains("finite number"))
    }
    assert(info() == before, "a rejected add stored rows")
    val q = Seq("1") ++ Seq.fill(7)("0")
    Seq("\"abc\"", "1.7", "null", "true", "[1]", "3000000000").foreach { bad =>
      Seq("final_top_k", "preliminary_top_k").foreach { key =>
        val (c, b) = post("/db/restdb/query",
          s"""{"query_vector": ${q.mkString("[", ",", "]")}, "$key": $bad}""")
        assert(c == 400 && b.get("detail").asText().contains(key), s"$key = $bad: $c $b")
      }
    }
    // integers and finite values that round to 0.0f still pass
    val (cg, bg) = post("/db/restdb/query",
      s"""{"query_vector": [1, 0, 0, 0, 0, 0, 0, 1e-50], "final_top_k": 2}""")
    assert(cg == 200 && bg.get("ids").size() == 2, s"$cg $bg")
  }

  test("info envelope: db_info is a JSON-encoded string (fastapi.py:75-105)") {
    val (ci, bi) = get("/db/restdb/info")
    assert(ci == 200)
    assert(bi.get("db_info").isTextual) // the reference json.dumps's it
    val inner = mapper.readTree(bi.get("db_info").asText())
    assert(inner.get("name").asText() == "restdb")
    assert(inner.get("num_vectors").asLong() == 24L)
    assert(inner.get("vector_dimension").asInt() == 8)
    assert(!inner.get("trained").asBoolean())
    assert(get("/db/nosuch/info")._1 == 404)
  }

  test("remove ids (fastapi.py:191-212)") {
    val (cr, br) = post("/db/restdb/remove", """{"ids":[0,1]}""")
    assert(cr == 200 && br.get("message").asText() == "2 vectors removed successfully")
    val inner = mapper.readTree(get("/db/restdb/info")._2.get("db_info").asText())
    assert(inner.get("num_vectors").asLong() == 22L)
    assert(post("/db/restdb/remove", """{"ids":[-5]}""")._1 == 400)
  }

  test("hostile ids and sizes are rejected with 400, nothing changed") {
    def info(db: String): JsonNode =
      mapper.readTree(get(s"/db/$db/info")._2.get("db_info").asText())
    val before = info("restdb").get("num_vectors").asLong()
    // Jackson's asLong() read the first five as id 0 or 1
    Seq("\"abc\"", "null", "{}", "true", "1.7", "[2]", "99999999999999999999")
      .foreach { bad =>
        val (c, b) = post("/db/restdb/remove", s"""{"ids": [2, $bad]}""")
        assert(c == 400 && b.get("detail").asText().contains("ids"), s"id $bad: $c $b")
      }
    Seq("""{"ids": 2}""", """{"ids": "2"}""", """{"ids": {"a": 2}}""",
        """{"ids": null}""", "{}").foreach { bad =>
      val (c, b) = post("/db/restdb/remove", bad)
      assert(c == 400 && b.get("detail").asText().contains("ids"), s"$bad: $c $b")
    }
    assert(info("restdb").get("num_vectors").asLong() == before, "a rejected remove deleted rows")

    // create: both sizes are checked before anything is created
    Seq("vector_dimension" -> Seq("\"abc\"", "1.7", "true", "{}", "3000000000"),
        "max_memory_usage" -> Seq("\"abc\"", "1.7", "true", "1e30", "99999999999999999999"))
      .foreach { case (key, bads) =>
        bads.foreach { bad =>
          val (c, b) = post("/db/create", s"""{"name": "hostile", "$key": $bad}""")
          assert(c == 400 && b.get("detail").asText().contains(key), s"$key = $bad: $c $b")
          assert(get("/db/hostile/info")._1 == 404, s"$key = $bad created the db")
        }
      }
    // an explicit null means absent (the reference declares both Optional)
    assert(post("/db/create",
      """{"name": "nulls", "vector_dimension": null, "max_memory_usage": null}""")._1 == 200)
    assert(info("nulls").get("vector_dimension").asInt() == -1)

    val maxBefore = get("/db/view_cache")._2.get("max_memory_usage").asLong()
    Seq("{}", """{"max_memory_usage": null}""", """{"max_memory_usage": "abc"}""",
        """{"max_memory_usage": 1.7}""", """{"max_memory_usage": true}""").foreach { bad =>
      val (c, b) = post("/db/update_max_memory_usage", bad)
      assert(c == 400 && b.get("detail").asText().contains("max_memory_usage"), s"$bad: $c $b")
    }
    assert(get("/db/view_cache")._2.get("max_memory_usage").asLong() == maxBefore)

    Seq("pca_dimension" -> "\"abc\"", "pca_dimension" -> "1.7",
        "opq_dimension" -> "true", "compressed_vector_bytes" -> "{}",
        "compressed_vector_bytes" -> "3000000000").foreach { case (key, bad) =>
      val (c, b) = post("/db/restdb/train", s"""{"$key": $bad}""")
      assert(c == 400 && b.get("detail").asText().contains(key), s"$key = $bad: $c $b")
    }
    assert(get("/db/restdb/train")._2.get("status").asText() == "not started",
      "a rejected train body started a train")
    // null dimensions mean absent: the heuristic train starts (and, on an
    // empty db, bypasses to "failed")
    val (ct, bt) = post("/db/nulls/train",
      """{"pca_dimension": null, "opq_dimension": null, "compressed_vector_bytes": null}""")
    assert(ct == 200, s"$ct $bt")
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var status = ""
    while ({ status = get("/db/nulls/train")._2.get("status").asText()
             status == "in progress" || status == "not started" } &&
           System.nanoTime() < deadline) Thread.sleep(100)
    assert(status == "failed")
    assert(post("/db/nulls/delete")._1 == 200)
  }

  /** Poll a db's train status until it leaves "not started"/"in progress". */
  private def awaitTrainEnd(db: String): String = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var status = ""
    while ({ status = get(s"/db/$db/train")._2.get("status").asText()
             status == "in progress" || status == "not started" } &&
           System.nanoTime() < deadline) Thread.sleep(100)
    status
  }

  test("non-boolean train flags are rejected with 400, no train started") {
    // Jackson's asBoolean() read the strings and {} as false and 1 as true
    for {
      key <- Seq("omit_opq", "use_two_level_clustering")
      bad <- Seq("\"yes\"", "\"abc\"", "\"true\"", "{}", "[]", "1", "0")
      body <- Seq(s"""{"$key": $bad}""", s"""{"pca_dimension": 4, "$key": $bad}""")
    } {
      val (c, b) = post("/db/restdb/train", body)
      assert(c == 400 && b.get("detail").asText().contains(key), s"$body: $c $b")
    }
    assert(get("/db/restdb/train")._2.get("status").asText() == "not started",
      "a rejected train flag started a train")
    // JSON booleans are accepted and an explicit null means absent; on an
    // empty db each accepted train bypasses to "failed"
    assert(post("/db/create", """{"name": "flags"}""")._1 == 200)
    Seq("""{"omit_opq": null, "use_two_level_clustering": null}""",
        """{"omit_opq": true, "use_two_level_clustering": false}""").foreach { body =>
      val (c, b) = post("/db/flags/train", body)
      assert(c == 200, s"$body: $c $b")
      assert(awaitTrainEnd("flags") == "failed")
    }
    assert(post("/db/flags/delete")._1 == 200)
  }

  test("a malformed JSON body answers 422 and changes nothing") {
    def numVectors(): Long =
      mapper.readTree(get("/db/restdb/info")._2.get("db_info").asText())
        .get("num_vectors").asLong()
    val before = numVectors()
    val q = Seq("1") ++ Seq.fill(7)("0")
    Seq(
      "add" -> s"""{"add_data": [[${q.mkString(",")}], {"x": 1}""",
      "query" -> s"""{"query_vector": [${q.mkString(",")}""",
      "remove" -> """{"ids": [2, 3""",
      "train" -> """{"omit_opq": tru""",
      "train" -> "not json").foreach { case (verb, body) =>
      val (c, b) = post(s"/db/restdb/$verb", body)
      assert(c == 422 && b.get("detail").asText().contains("JSON"), s"$verb $body: $c $b")
    }
    assert(numVectors() == before, "a malformed body changed the db")
    assert(get("/db/restdb/train")._2.get("status").asText() == "not started",
      "a malformed train body started a train")
  }

  test("train: async start, status endpoint, small-db bypass → failed " +
       "(fastapi.py:314-338; T3)") {
    assert(get("/db/restdb/train")._2.get("status").asText() == "not started")
    val (ct, bt) = post("/db/restdb/train")
    assert(ct == 200 && bt.get("status").asText() == "training successfully initiated")
    // 22 rows is far below the 5,000 flat floor: the async train bypasses
    // and the status endpoint reports the reference's "failed" (the swap
    // found no new index, fastapi.py:288-296)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var status = ""
    while ({ status = get("/db/restdb/train")._2.get("status").asText()
             status == "in progress" || status == "not started" } &&
           System.nanoTime() < deadline) Thread.sleep(100)
    assert(status == "failed")
    // queries still serve (flat path) after the bypass
    val q = Array.fill(8)(0.0); q(3) = 1.0
    assert(post("/db/restdb/query",
      s"""{"query_vector": ${vecJson(q.toSeq)}, "final_top_k": 2}""")._1 == 200)
    assert(post("/db/nosuch/train")._1 == 404)
  }

  test("cache verbs: view_cache / remove_from_cache / update_max_memory_usage " +
       "(fastapi.py:447-470)") {
    val (cv, bv) = get("/db/view_cache")
    assert(cv == 200 && bv.get("cache_keys").isArray &&
      bv.get("max_memory_usage").asLong() > 0)
    assert(post("/db/restdb/remove_from_cache")._2.get("message").asText() ==
      "Database removed from cache")
    val (cu, bu) = post("/db/update_max_memory_usage",
      """{"max_memory_usage": 123456789}""")
    assert(cu == 200 && bu.get("message").asText() ==
      "Max memory usage updated successfully")
    assert(get("/db/view_cache")._2.get("max_memory_usage").asLong() == 123456789L)
  }

  test("save + reload + training queues (fastapi.py:356-374, 409-445)") {
    assert(post("/db/restdb/save")._2.get("message").asText() ==
      "Database saved successfully")
    assert(post("/db/restdb/reload")._2.get("message").asText() ==
      "Database reloaded successfully")
    assert(post("/db/nosuch/save")._1 == 404)
    val (cq, bq) = get("/db/get_initial_training_queue")
    assert(cq == 200 && bq.get("initial_training_queue").isArray)
    // 22 rows: nothing is due — the sweep returns an empty queue
    val (cf, bf) = get("/db/find_indexes_to_train")
    assert(cf == 200 && bf.get("training_queue").size() == 0)
  }

  test("delete: 200 then 404 (fastapi.py:377-389)") {
    assert(post("/db/restdb/delete")._2.get("message").asText() ==
      "Database deleted successfully")
    assert(get("/db/restdb/info")._1 == 404)
    assert(post("/db/restdb/delete")._1 == 404)
  }

  test("url-encoded db names with spaces route correctly") {
    assert(post("/db/create", """{"name":"My DB-2","vector_dimension":4}""")._1 == 200)
    assert(get("/db/My%20DB-2/info")._1 == 200)
    assert(post("/db/My%20DB-2/delete")._1 == 200)
  }
}
