package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and prints its result as the last line of
  * standard output. Usage:
  * `Main --spec B --workload serve|ingest --seed N --seconds S --trace 0|1 --dir D [--spans F]`
  * where B is `BENCHMARK.json`, which names the metrics the result line
  * carries, D is a fresh scratch directory for the engine root and Spark,
  * and F receives the traced run's spans, one JSON object a line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload") match {
      case "serve" => Serve
      case "ingest" => Ingest
      case w => System.err.println(s"unknown workload $w"); sys.exit(2)
    }
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val dir = Paths.get(opts("dir")).toAbsolutePath
    Metrics.load(Paths.get(opts("spec")))
    val code =
      try { run(workload, opts("workload"), seed, seconds, traced, dir, opts.get("spans")); 0 }
      catch {
        case g: GateFailure =>
          System.err.println(s"[perfbench] CORRECTNESS GATE FAILED: ${g.getMessage}"); 3
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e"); e.printStackTrace(); 4
      }
    // the REST server's and Spark's non-daemon threads must not keep the
    // JVM alive past the result
    sys.exit(code)
  }

  private def run(w: Workload, name: String, seed: Long, seconds: Int, traced: Boolean,
                  dir: java.nio.file.Path, spansOut: Option[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = Runtime.getRuntime.availableProcessors
    val os = ManagementFactory.getOperatingSystemMXBean
    val stamp = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> nproc, "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "master" -> s"local[$nproc]", "loadavg_start" -> os.getSystemLoadAverage)
    Files.createDirectories(dir)
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val b = new Bench(spark, dir.resolve("engine").toString, seed, seconds, dir)
    try {
      System.err.println(f"[perfbench] session up: ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s")
      // a traced run traces its set-up too (for the set-up train's counters);
      // its end-to-end numbers are never reported
      if (traced) { Trace.start(spark.sparkContext); Trace.setPhase("setup") }
      w.setup(b)
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      if (traced) Trace.stop()
      val untraced = b.timed("measure")(w.measure(b, seconds))
      untraced.foreach { case (k, r) => b.readings(k) = r }
      b.put("setup_s", setupS, "s", 1)
      b.timed("finish")(w.finish(b))
      if (traced) {
        val attachS = Trace.start(spark.sparkContext)
        val start = Layers.before(b)
        Trace.setPhase("measure")
        val m0 = System.nanoTime()
        val tr = w.measure(b, seconds)
        val measureS = (System.nanoTime() - m0) / 1e9
        Trace.setPhase("probe")
        val version = b.engine.load(b.db).indexVersion
        val coded = Layers.codedFiles(b)
        val p0 = System.nanoTime()
        b.timed("probes")(Probes.run(b))
        val probeS = (System.nanoTime() - p0) / 1e9
        Trace.stop()
        val n = b.engine.count(b.db)
        b.gate(n == b.ledger.liveCount, s"after the probes Engine.count is $n, ledger holds ${b.ledger.liveCount}")
        Layers.compute(b, start, Map("setup" -> setupS, "measure" -> measureS, "probe" -> probeS),
          version, coded)
        spansOut.foreach(f => Trace.write(Paths.get(f)))
        b.layer("overhead.setup_s", attachS, "s")
        tr.foreach { case (k, r) =>
          if (Metrics.traced.contains(k)) b.layer("overhead." + k, r.value - untraced(k).value, r.unit)
        }
      }
      stamp("loadavg_end") = os.getSystemLoadAverage
      stamp("jvm_gc_ms") = Trace.gcMs
      stamp("jvm_jit_ms") = Trace.jitMs
      stamp("inputs_sha256") = b.notes.getOrElse("inputs_sha256", "")
      Output.print(b, stamp.toMap, traced)
    } finally {
      b.stop()
      spark.stop()
    }
  }
}

/** The metric names the result line carries, in order, as `BENCHMARK.json`
  * lists them.
  */
object Metrics {
  var endToEnd: Seq[String] = Nil
  var perLayer: Seq[String] = Nil

  /** End-to-end metrics a traced pass re-measures: those with an
    * `overhead.` per-layer entry.
    */
  def traced: Seq[String] = endToEnd.filter(n => perLayer.contains("overhead." + n))

  def load(spec: java.nio.file.Path): Unit = {
    val root = Json.mapper.readTree(spec.toFile)
    def names(key: String) = root.get(key).elements().asScala.map(_.get("name").asText()).toSeq
    endToEnd = names("end_to_end")
    perLayer = names("per_layer")
  }
}

object Output {
  def print(b: Bench, stamp: Map[String, Any], traced: Boolean): Unit = {
    System.out.println("run stamp: " + stamp.map { case (k, v) => s"$k=$v" }.mkString(" "))
    System.out.println("end-to-end:")
    b.readings.foreach { case (k, r) =>
      val gated = if (Metrics.endToEnd.contains(k)) "" else "  (reported, not gated)"
      System.out.println(f"  $k%-22s ${r.value}%14.4f ${r.unit}%-10s n=${r.samples}$gated")
    }
    if (traced) {
      System.out.println("per-layer (traced run):")
      b.layers.foreach { case (k, (v, u)) => System.out.println(f"  $k%-38s $v%16.4f $u") }
    }
    b.notes.foreach { case (k, v) => System.out.println(s"  note $k: $v") }
    System.out.println(s"ops attempted=${b.ops.attempted} failed=${b.ops.failed} " +
      s"missed_ceiling=${b.ops.missed}")
    val names = if (traced) Metrics.perLayer else Metrics.endToEnd
    val values: Map[String, (Double, String)] =
      if (traced) b.layers.toMap else b.readings.map { case (k, r) => k -> (r.value, r.unit) }.toMap
    val missing = names.filterNot(values.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val bad = names.filter(n => values(n)._1.isNaN || values(n)._1.isInfinite)
    require(bad.isEmpty, s"metrics without a finite value: ${bad.mkString(", ")}")
    val metrics = names.map { k =>
      val (v, u) = values(k)
      s""""$k":{"value":$v,"unit":"$u"}"""
    }
    System.out.println(s"""{"correct":true,"attempted":${b.ops.attempted},""" +
      s""""failed":${b.ops.failed},"metrics":{${metrics.mkString(",")}}}""")
  }
}
