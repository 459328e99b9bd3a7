package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, derived from the spans and counters
  * the benchmark recorded around its own calls (see [[Trace]]) and from
  * listing the engine root.
  */
object Layers {
  /** State read just before the traced pass starts. */
  final case class Before(epoch: Long, indexVersion: Int, gcMs: Long, jitMs: Long)

  def before(b: Bench): Before =
    Before(b.catalogEpoch(b.db), b.engine.load(b.db).indexVersion, Trace.gcMs, Trace.jitMs)

  /** Per-layer metrics over the traced set-up, pass and probes; `walls`
    * holds each phase's wall seconds.
    */
  def compute(b: Bench, start: Before, walls: Map[String, Double],
              versionAfterPass: Int, codedFilesAfterPass: Int): Unit = {
    val nproc = b.spark.sparkContext.defaultParallelism
    val spans = Trace.spans.asScala.toSeq
    def named(n: String) = spans.filter(_.name == n)
    def perCall(ss: Seq[Span])(f: Work => Double): Double =
      if (ss.isEmpty) 0.0 else ss.map(s => f(s.work)).sum / ss.size

    val httpQueries = named("api.query")
    val adds = named("api.add")
    val removes = named("api.remove")
    val queries = named("core.query")
    val catalyst = named("core.catalyst")
    val trains = named("core.train")
    val rebuilding = queries.filter(_.work.jobs > 0)

    b.layer("api.query_resp_bytes", b.apiRespBytes.value, "bytes")
    b.layer("api.add_req_bytes", b.apiReqBytes.value, "bytes")
    b.layer("api.non_2xx", b.non2xx.get.toDouble, "count")

    b.layer("core.query_jobs", perCall(queries)(_.jobs.toDouble), "count")
    b.layer("core.catalyst_jobs", perCall(catalyst)(_.jobs.toDouble), "count")
    b.layer("core.catalyst_tasks", perCall(catalyst)(_.tasks.toDouble), "count")
    b.layer("core.reader_rebuilds",
      rebuilding.count(s => s.startNs >= Trace.measureStartNs && s.startNs < Trace.probeStartNs)
        .toDouble, "count")
    b.layer("core.reader_rebuild_ms",
      if (rebuilding.isEmpty) 0.0 else rebuilding.map(_.ms).sum / rebuilding.size, "ms")
    b.layer("core.add_jobs", perCall(adds)(_.jobs.toDouble), "count")
    b.layer("core.add_tasks", perCall(adds)(_.tasks.toDouble), "count")
    b.layer("core.add_outside_jobs_ms",
      if (adds.isEmpty) 0.0 else adds.map(s => s.ms - covered(s.work.jobIntervals.toSeq)).sum / adds.size,
      "ms")
    b.layer("core.index_version_bumps", (versionAfterPass - start.indexVersion).toDouble, "count")
    b.layer("core.remove_jobs", perCall(removes)(_.jobs.toDouble), "count")
    b.layer("core.train_jobs", perCall(trains)(_.jobs.toDouble), "count")
    b.layer("core.train_tasks", perCall(trains)(_.tasks.toDouble), "count")
    b.layer("core.train_cpu_share",
      if (trains.isEmpty) 0.0
      else trains.map(_.work.cpuNs / 1e9).sum / (trains.map(_.ms / 1e3).sum * nproc), "ratio")

    // the set-up train committed before `start.epoch` was read
    val mutations = adds.size + removes.size + named("core.compact").size +
      trains.count(_.startNs >= Trace.measureStartNs)
    b.layer("catalog.commits_per_op",
      (b.catalogEpoch(b.db) - start.epoch).toDouble / math.max(1, mutations), "ratio")

    for ((phase, wall) <- walls) {
      val w = Option(Trace.phases.get(phase)).getOrElse(new Work)
      b.layer(s"spark.$phase.jobs", w.jobs.toDouble, "count")
      b.layer(s"spark.$phase.tasks", w.tasks.toDouble, "count")
      b.layer(s"spark.$phase.executor_cpu_share", w.cpuNs / 1e9 / (wall * nproc), "ratio")
      b.layer(s"spark.$phase.task_gc_share", if (w.runMs == 0) 0.0 else w.gcMs.toDouble / w.runMs, "ratio")
      b.layer(s"spark.$phase.sched_delay_share",
        if (w.runMs + w.schedDelayMs == 0) 0.0 else w.schedDelayMs.toDouble / (w.runMs + w.schedDelayMs),
        "ratio")
      b.layer(s"spark.$phase.input_bytes", w.inputBytes.toDouble, "bytes")
      b.layer(s"spark.$phase.output_bytes", w.outputBytes.toDouble, "bytes")
      b.layer(s"spark.$phase.shuffle_write_bytes", w.shuffleWriteBytes.toDouble, "bytes")
    }
    b.layer("jvm.gc_ms", (Trace.gcMs - start.gcMs).toDouble, "ms")
    b.layer("jvm.jit_ms", (Trace.jitMs - start.jitMs).toDouble, "ms")

    val written = (adds ++ removes).map(_.work.outputBytes).sum.toDouble
    b.layer("storage.bytes_written_per_user_byte",
      written / math.max(1.0, b.userBytesAdded.sum), "ratio")
    b.layer("storage.files_per_add", b.filesPerAdd.value, "count")
    b.layer("storage.coded_files_end", codedFilesAfterPass.toDouble, "count")
  }

  /** Parquet files of the db's current coded table. */
  def codedFiles(b: Bench): Int = {
    val v = b.engine.load(b.db).indexVersion
    b.files(b.db).count { p =>
      val s = p.toString
      s.contains(s"/index/v$v/coded/") && s.endsWith(".parquet") && Files.size(p) > 0
    }
  }

  /** Milliseconds of `intervals` (epoch ms) covered by their union. */
  private def covered(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var end = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total.toDouble
  }
}
