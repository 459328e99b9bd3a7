package perfbench

object Samples {
  /** All samples of `parts`, in one. */
  def concat(parts: Seq[Samples]): Samples = {
    val out = new Samples
    parts.foreach(p => p.sorted.foreach(out.add))
    out
  }
}

/** Latency samples in nanoseconds, thread-safe to append. */
final class Samples {
  private val xs = scala.collection.mutable.ArrayBuffer.empty[Long]
  def add(ns: Long): Unit = synchronized { xs += ns }
  def count: Int = synchronized(xs.length)

  /** The samples added after the first `from`. */
  def since(from: Int): Samples = {
    val out = new Samples
    synchronized(xs.drop(from)).foreach(out.add)
    out
  }

  def sorted: Array[Long] = synchronized(xs.toArray).sorted

  /** Nearest-rank percentile in ms; NaN without samples. */
  def pctMs(p: Double): Double = {
    val s = sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))) / 1e6
  }
}

/** Op accounting for one workload: attempts, failures (non-2xx or
  * exception) and misses of a latency ceiling. A failed op is a miss.
  */
final class Ops {
  @volatile var attempted = 0L
  @volatile var failed = 0L
  @volatile var missed = 0L
  def record(ok: Boolean, ms: Double, ceilingMs: Double): Unit = synchronized {
    attempted += 1
    if (!ok) failed += 1
    if (!ok || ms > ceilingMs) missed += 1
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** Running sum and count, thread-safe. */
final class Mean {
  private var sum = 0.0
  private var n = 0L
  def add(x: Double): Unit = synchronized { sum += x; n += 1 }
  def value: Double = synchronized(if (n == 0) 0.0 else sum / n)
}
