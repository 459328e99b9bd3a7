package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work charged to one span or phase. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  /** [submit, complete] of each job, epoch ms. */
  val jobIntervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One call from the benchmark into a layer. */
final class Span(val id: Long, val parent: Long, val name: String,
                 val remote: Boolean, val startNs: Long) {
  @volatile var endNs = 0L
  var gcMs0 = 0L
  var jitMs0 = 0L
  var gcMs = 0L
  var jitMs = 0L
  val work = new Work
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory spans around the benchmark's own calls into each layer, with
  * Spark counters and JVM counters attached to the span that was open when
  * they fired. Off by default; `span` then only runs its body.
  *
  * Jobs submitted from the calling thread carry the span id as a Spark
  * local property. Jobs without it (the REST server's handler threads, the
  * engine's helper threads) go to the one open remote span if there is
  * exactly one, else to the one open span if there is exactly one, else to
  * the phase only.
  */
object Trace {
  @volatile var on = false
  @volatile var phase = "none"
  @volatile var measureStartNs = Long.MaxValue
  @volatile var probeStartNs = Long.MaxValue
  private val SpanKey = "perfbench.span"
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val open = ConcurrentHashMap.newKeySet[Span]()
  val phases = new ConcurrentHashMap[String, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stagePhase = new ConcurrentHashMap[Int, Work]()
  private val jobSubmit = new ConcurrentHashMap[Int, Long]()
  @volatile private var sc: SparkContext = _
  @volatile private var lastEventMs = 0L
  private val openJobs = new AtomicLong(0)

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Starts tracing: registers the listener. Returns the time it took. */
  def start(context: SparkContext): Double = {
    val t0 = System.nanoTime()
    sc = context
    context.addSparkListener(Listener)
    on = true
    (System.nanoTime() - t0) / 1e9
  }

  def stop(): Unit = {
    on = false
    awaitQuiet()
    if (sc != null) sc.removeSparkListener(Listener)
  }

  def setPhase(p: String): Unit = {
    awaitQuiet()
    phase = p
    phases.putIfAbsent(p, new Work)
    if (p == "measure") measureStartNs = System.nanoTime()
    if (p == "probe") probeStartNs = System.nanoTime()
  }

  /** Waits (bounded) until every started job has ended and the listener
    * bus has been quiet for a moment, so counters are complete.
    */
  def awaitQuiet(): Unit = if (sc != null) {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
      (openJobs.get() > 0 || System.currentTimeMillis() - lastEventMs < 250))
      Thread.sleep(25)
  }

  def span[T](name: String, remote: Boolean = false)(body: => T): T =
    if (!on) body
    else {
      val parentStack = stack.get()
      val s = new Span(ids.incrementAndGet(), parentStack.headOption.map(_.id).getOrElse(0L),
        name, remote, System.nanoTime())
      s.gcMs0 = gcMs; s.jitMs0 = jitMs
      stack.set(s :: parentStack)
      open.add(s)
      val prevProp = if (sc != null) sc.getLocalProperty(SpanKey) else null
      if (sc != null) sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.gcMs = gcMs - s.gcMs0; s.jitMs = jitMs - s.jitMs0
        if (sc != null) sc.setLocalProperty(SpanKey, prevProp)
        open.remove(s)
        stack.set(parentStack)
        spans.add(s)
      }
    }

  private def byId(id: Long): Span = {
    val it = open.iterator()
    while (it.hasNext) { val s = it.next(); if (s.id == id) return s }
    null
  }

  private def fallbackSpan(): Span = {
    val all = open.asScala.toSeq
    val remote = all.filter(_.remote)
    if (remote.size == 1) remote.head
    else if (all.size == 1) all.head
    else null
  }

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventMs = System.currentTimeMillis()
      openJobs.incrementAndGet()
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      val s = prop.map(p => byId(p.toLong)).orNull match {
        case null => fallbackSpan()
        case x => x
      }
      val w = phases.computeIfAbsent(phase, _ => new Work)
      w.synchronized(w.jobs += 1)
      jobSubmit.put(e.jobId, e.time)
      e.stageIds.foreach(st => stagePhase.put(st, w))
      if (s != null) {
        jobSpan.put(e.jobId, s)
        e.stageIds.foreach(st => stageSpan.put(st, s))
        s.work.synchronized(s.work.jobs += 1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventMs = System.currentTimeMillis()
      openJobs.decrementAndGet()
      val start = Option(jobSubmit.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
      Option(jobSpan.remove(e.jobId)).foreach { s =>
        s.work.synchronized(s.work.jobIntervals += ((start, e.time)))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventMs = System.currentTimeMillis()
      val m = e.taskMetrics
      def charge(w: Work): Unit = w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.cpuNs += m.executorCpuTime
          w.runMs += m.executorRunTime
          w.gcMs += m.jvmGCTime
          w.inputBytes += m.inputMetrics.bytesRead
          w.outputBytes += m.outputMetrics.bytesWritten
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          val info = e.taskInfo
          if (info != null)
            w.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime)
        }
      }
      Option(stagePhase.get(e.stageId)).foreach(charge)
      Option(stageSpan.get(e.stageId)).foreach(s => charge(s.work))
    }
  }

  /** Writes every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${s.work.jobs},""" +
        s""""tasks":${s.work.tasks},"cpu_ms":${s.work.cpuNs / 1e6},""" +
        s""""gc_ms":${s.gcMs},"jit_ms":${s.jitMs}}""" + "\n")
    } finally w.close()
  }
}
