package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Engine
import graft.core.Engine.IndexModel
import graft.catalog.CatalogDoc
import graft.index.{IndexParams, IndexStore}

/** The hashable trained-path fixture: a scratch db built from the
  * `embeddings` table, REALLY trained (IVF + residual PQ over identity
  * PCA, seeded), queried through the REAL engine serving path (probe
  * selection → partition-pruned coded scan → executor-side ADC → exact
  * rerank) — and a DuckDB oracle that replays the whole serving
  * computation from the trained model's own centroids/codebooks, inlined
  * as SQL literals at build time.
  *
  * This closes the round-4 gap "no oracle row drives the real PQ/ADC
  * numbers": DuckDB cannot reproduce k-means training, but given the
  * trained artifacts it CAN recompute assignment, residual PQ codes, ADC
  * distances and the rerank bit-for-bit (both engines run the same
  * IEEE-double op sequence: sequential left-to-right sums — except the
  * ADC block sum, which both sides compute in the r18c pairwise-tree
  * grouping, see [[adcDistExpr]] — (v−c)−e residuals, q−(c+e)
  * reconstruction), so the driver's hash compare covers the full
  * trained read path. Identity PCA keeps the replay free
  * of a matmul; float literals are printed via their exact double values.
  */
object TrainedFixture {

  /** `qRaw` is the unnormalized query (vec_id 0's embedding): the engine
    * normalizes inputs itself, so the raw vector goes to `Engine.query`
    * (passing a pre-normalized copy would normalize TWICE — a different
    * float vector than the oracle's single normalization); `qn` is the
    * once-normalized form for the coarse-stage probe (identical to what
    * the engine computes internally).
    */
  final case class Fixture(eng: Engine, doc: CatalogDoc, model: IndexModel,
                           bcModel: org.apache.spark.broadcast.Broadcast[IndexModel],
                           qRaw: Array[Float], qn: Array[Float])

  private val cache =
    scala.collection.concurrent.TrieMap.empty[String, Fixture]

  /** Oracle SQL generated at build time from the actually-trained model
    * (keyed by query name; SparkEntry.oracleSql reads it after the
    * queries have run — Verify runs queries first, then dumps SQL).
    */
  val oracleSql =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private val M = 8 // PQ subspaces over d=64 → subDim 8
  private val PrelimK = 100
  private val AdcK = 50
  private val FinalK = 15

  def get(s: SparkSession, dir: String): Fixture =
    cache.getOrElseUpdate(dir, build(s, dir))

  private def build(s: SparkSession, dir: String): Fixture = {
    val root = java.nio.file.Files.createTempDirectory("graft-tf").toString
    val eng = new Engine(s, root)
    eng.create("tf", vectorDimension = 64)
    eng.add("tf", s.read.parquet(s"$dir/embeddings.parquet").orderBy("vec_id")
      .select(col("embedding").as("vector"), col("label").cast("string").as("metadata")))
    val doc = eng.train("tf",
      params = Some(IndexParams(64, 64, M, omitOpq = true)),
      kmeansIters = 10, seed = 42L,
      minTrainRows = 1) // fixture-sized corpus; floor lowered explicitly
    require(doc.isTrained, "fixture train must produce an index")
    val model = IndexStore.loadModel(s, doc.indexPath(root))
    val qRaw = s.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0L).head().getSeq[Float](1).toArray
    val qn = Engine.normalizeLocal(qRaw)
    val f = Fixture(eng, doc, model, s.sparkContext.broadcast(model), qRaw, qn)
    oracleSql.put("trained_adc_topk", adcSql(f))
    oracleSql.put("trained_knn", knnSql(f))
    f
  }

  // ------------------------------------------------------------- queries

  /** The coarse ADC stage itself, through the real coded table + kernel:
    * top-`AdcK` rows of the probed partitions by reconstruction distance.
    */
  def adcTopK(s: SparkSession, dir: String): DataFrame = {
    val f = get(s, dir)
    val qp = f.model.pca.applyLocal(f.qn)
    val probes = f.model.nearestClusters(qp, f.doc.nProbe)
    val coded = s.read.parquet(s"${f.doc.indexPath(f.eng.root)}/coded")
    val pruned = coded.filter(col("cluster_id")
      .isin(probes.toIndexedSeq.map(Integer.valueOf): _*))
    graft.operators.BatchANN.coarseCandidates(
        s, pruned, f.bcModel,
        Array(0L -> qp), Array(probes), AdcK)
      .select(col("id"), round(col("adc_dist"), 6).as("adc_dist"))
  }

  /** The full two-stage trained query through `Engine.query`. */
  def knn(s: SparkSession, dir: String): DataFrame = {
    val f = get(s, dir)
    f.eng.query("tf", f.qRaw, preliminaryTopK = PrelimK, finalTopK = FinalK)
      .select(col("rank"), col("id"), col("metadata").as("label"),
        round(col("cosine_similarity"), 6).as("cosine_similarity"))
  }

  private val prepCache =
    scala.collection.concurrent.TrieMap.empty[String, graft.core.PreparedIndex]

  /** The same two-stage query through the PREPARED low-latency path
    * (one-job in-memory serving, Engine.prepareServing): hash-gated
    * against the identical DuckDB replay as `trained_knn`, proving the
    * prepared kernel is bit-identical to the regular plan end-to-end.
    */
  def preparedKnn(s: SparkSession, dir: String): DataFrame = {
    val f = get(s, dir)
    val prep = prepCache.getOrElseUpdate(dir, f.eng.prepareServing("tf"))
    val hits = prep.query(f.qRaw, preliminaryTopK = PrelimK, finalTopK = FinalK)
    oracleSql.put("prepared_knn", knnSql(f))
    import s.implicits._
    hits.toSeq.toDF("rank", "id", "label", "cosine_similarity")
      .select(col("rank"), col("id"), col("label"),
        round(col("cosine_similarity"), 6).as("cosine_similarity"))
  }

  /** Filtered query through the TRAINED engine exercising the under-fill
    * guard end-to-end: the predicate matches fewer live rows than
    * `FinalK`, so the preliminary stage under-fills, the widened retry
    * under-fills too, and the guard deterministically falls back to the
    * exact flat scan — whose result a static SQL oracle replays exactly
    * (no trained artifacts involved once the fallback fires; that the
    * TRAINED path routes there is the behavior under test).
    */
  def knnFiltered(s: SparkSession, dir: String): DataFrame = {
    val f = get(s, dir)
    f.eng.query("tf", f.qRaw, preliminaryTopK = PrelimK, finalTopK = FinalK,
      predicate = Some(col("metadata") === "7" && col("id") < 60))
      .select(col("rank"), col("id"), col("metadata").as("label"),
        round(col("cosine_similarity"), 6).as("cosine_similarity"))
  }

  /** The PREDICATE-BEARING trained query through the ROUTED serving path
    * (round-13: `Engine.query` with a predicate on a trained db compiles
    * the predicate against (id, metadata) and evaluates it against the
    * preliminary candidates inside the fused prepared job — the
    * reference's own roadmap feature, README.md:52, at the routed
    * latency floor instead of the ~1 s Catalyst planning floor). The
    * predicate here keeps ≥ `FinalK` of the `PrelimK` preliminary
    * candidates, so the FILLED first-round branch serves — the oracle
    * replays coarse ADC → candidate filter → exact rerank bit-for-bit.
    * (The widening and flat-fallback branches are spec-gated in
    * PreparedIndexSpec; `knn_filtered_trained` hash-gates the terminal
    * flat fallback end-to-end.)
    */
  def knnFilteredRouted(s: SparkSession, dir: String): DataFrame = {
    val f = get(s, dir)
    oracleSql.put("knn_filtered_routed", filteredKnnSql(f))
    val pred = col("metadata").isin("1", "3", "5", "7", "9")
    val out = f.eng.query("tf", f.qRaw, preliminaryTopK = PrelimK,
        finalTopK = FinalK, predicate = Some(pred))
      .select(col("rank"), col("id"), col("metadata").as("label"),
        round(col("cosine_similarity"), 6).as("cosine_similarity"))
    // the oracle assumes the filled first round; if the testdata ever
    // drifts selective enough to engage widening, fail loudly here
    // instead of hash-mismatching downstream
    require(out.count() == FinalK,
      s"knn_filtered_routed fixture drifted: filled branch expected $FinalK rows")
    out
  }

  // ------------------------------------------------------ oracle SQL gen

  /** Exact double value of a float, shortest round-trip repr. */
  private def fl(x: Float): String = {
    val d = x.toDouble
    if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }

  private def lit1(v: Array[Float]): String =
    v.map(fl).mkString("[", ",", "]")
  private def lit2(v: Array[Array[Float]]): String =
    v.map(lit1).mkString("[", ",", "]")
  private def lit3(v: Array[Array[Array[Float]]]): String =
    v.map(lit2).mkString("[", ",", "]")

  /** Shared replay prefix: normalized vectors with engine ids, the model
    * literals, per-row cluster assignment, residual PQ codes, probe
    * selection for the fixture query, and ADC distances over probed rows.
    * Every arithmetic step mirrors the JVM kernel's op order so doubles
    * match bit-for-bit.
    */
  private def replayCtes(f: Fixture): String = {
    val d = 64
    val sub = d / M
    val nlist = f.model.centroids.length
    val nprobe = f.doc.nProbe
    s"""WITH cents AS (SELECT ${lit2(f.model.centroids)} AS c),
       |books AS (SELECT ${lit3(f.model.pq.codebooks)} AS b),
       |nv AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS id, vec_id, label,
       |    [CAST(CAST(x AS DOUBLE) / n AS REAL) for x in embedding] AS v
       |  FROM (
       |    SELECT vec_id, label, embedding,
       |      sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS n
       |    FROM embeddings)),
       |q AS (SELECT v AS qv FROM nv WHERE vec_id = 0),
       |cdist AS (
       |  SELECT k - 1 AS cid,
       |    list_sum([(CAST(q.qv[i] AS DOUBLE) - cents.c[k][i])
       |            * (CAST(q.qv[i] AS DOUBLE) - cents.c[k][i])
       |      for i in generate_series(1, $d)]) AS d2
       |  FROM q, cents, generate_series(1, $nlist) t(k)),
       |probes AS (SELECT cid FROM cdist ORDER BY d2, cid LIMIT $nprobe),
       |assigned AS (
       |  SELECT id, vec_id, label, v,
       |    list_position(dl, list_min(dl)) - 1 AS cid
       |  FROM (
       |    SELECT nv.*,
       |      [list_sum([(CAST(nv.v[i] AS DOUBLE) - cents.c[k][i])
       |               * (CAST(nv.v[i] AS DOUBLE) - cents.c[k][i])
       |        for i in generate_series(1, $d)])
       |       for k in generate_series(1, $nlist)] AS dl
       |    FROM nv, cents)),
       |coded AS (
       |  SELECT id, label, v, cid,
       |    [list_position(dj, list_min(dj)) - 1 for dj in
       |      [[list_sum([
       |          ((CAST(a.v[(j-1)*$sub+u] AS DOUBLE) - cents.c[a.cid+1][(j-1)*$sub+u]) - books.b[j][e][u])
       |        * ((CAST(a.v[(j-1)*$sub+u] AS DOUBLE) - cents.c[a.cid+1][(j-1)*$sub+u]) - books.b[j][e][u])
       |          for u in generate_series(1, $sub)])
       |        for e in generate_series(1, 256)]
       |       for j in generate_series(1, $M)]] AS codes
       |  FROM assigned a, cents, books
       |  WHERE a.cid IN (SELECT cid FROM probes)),
       |adc AS (
       |  SELECT id, label, v,
       |    $adcDistExpr AS dist
       |  FROM coded, q, cents, books)""".stripMargin
  }

  /** The ADC distance expression replaying the serving kernels' exact FP
    * grouping. subDim==8 (every real config: PQ splits into 8-dim
    * subspaces) uses the r18c PAIRWISE-TREE block sum — per subquantizer
    * j: ((s1+s2)+(s3+s4)) + ((s5+s6)+(s7+s8)), then a sequential
    * left-fold over the j partials (DuckDB's `list_sum` over the
    * M-element list) — matching `dist += treeBlock(j)` in the shared
    * serving kernel (graft.index.AdcKernel) term for term. Other subDims
    * replay the sequential per-element fold the kernel uses for them.
    */
  private def adcDistExpr: String = {
    val d = 64
    val sub = d / M
    def term(j: Int, u: Int): String = {
      val i = (j - 1) * sub + u
      s"""(CAST(q.qv[$i] AS DOUBLE) - (cents.c[cid+1][$i] + books.b[$j][codes[$j]+1][$u]))"""
    }
    def sq(j: Int, u: Int): String = s"${term(j, u)} * ${term(j, u)}"
    if (sub == 8) {
      val blocks = (1 to M).map { j =>
        s"((${sq(j, 1)} + ${sq(j, 2)}) + (${sq(j, 3)} + ${sq(j, 4)})) + " +
          s"((${sq(j, 5)} + ${sq(j, 6)}) + (${sq(j, 7)} + ${sq(j, 8)}))"
      }
      s"list_sum([${blocks.mkString(",\n        ")}])"
    } else
      s"""list_sum([
         |        (CAST(q.qv[i] AS DOUBLE)
         |          - (cents.c[cid+1][i] + books.b[((i-1)//$sub)+1][codes[((i-1)//$sub)+1]+1][((i-1)%$sub)+1]))
         |      * (CAST(q.qv[i] AS DOUBLE)
         |          - (cents.c[cid+1][i] + books.b[((i-1)//$sub)+1][codes[((i-1)//$sub)+1]+1][((i-1)%$sub)+1]))
         |      for i in generate_series(1, $d)])""".stripMargin
  }

  private def adcSql(f: Fixture): String =
    s"""${replayCtes(f)}
       |SELECT id, round(dist, 6) AS adc_dist
       |FROM adc ORDER BY dist, id LIMIT $AdcK""".stripMargin

  /** [[knnSql]] with the metadata predicate applied to the preliminary
    * candidates before the rerank — exactly where Engine's trained
    * predicate path (Catalyst AND routed) filters the hydrated frame.
    */
  private def filteredKnnSql(f: Fixture): String =
    s"""${replayCtes(f)},
       |cand AS (SELECT id FROM adc ORDER BY dist, id LIMIT $PrelimK),
       |scored AS (
       |  SELECT nv.id, nv.label,
       |    list_sum([CAST(nv.v[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)
       |      for i in generate_series(1, 64)]) AS sim
       |  FROM nv JOIN cand USING (id), q
       |  WHERE CAST(nv.label AS VARCHAR) IN ('1','3','5','7','9'))
       |SELECT row_number() OVER (ORDER BY sim DESC, id) AS rank, id,
       |  CAST(label AS VARCHAR) AS label, round(sim, 6) AS cosine_similarity
       |FROM scored ORDER BY sim DESC, id LIMIT $FinalK""".stripMargin

  private def knnSql(f: Fixture): String =
    s"""${replayCtes(f)},
       |cand AS (SELECT id FROM adc ORDER BY dist, id LIMIT $PrelimK),
       |scored AS (
       |  SELECT nv.id, nv.label,
       |    list_sum([CAST(nv.v[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)
       |      for i in generate_series(1, 64)]) AS sim
       |  FROM nv JOIN cand USING (id), q)
       |SELECT row_number() OVER (ORDER BY sim DESC, id) AS rank, id,
       |  CAST(label AS VARCHAR) AS label, round(sim, 6) AS cosine_similarity
       |FROM scored ORDER BY sim DESC, id LIMIT $FinalK""".stripMargin
}
