package graft.index

import java.util.concurrent.{Callable, ExecutionException, Future,
  LinkedBlockingQueue, ThreadFactory, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.reflect.ClassTag

/** The driver's pool for independent pieces of an index fit: PQ subspace
  * k-means, per-partition Lloyd partials and sample projections. One pool
  * is shared by every fit in the JVM. It holds at most
  * `availableProcessors` daemon threads, and an idle thread exits after
  * [[IdleSeconds]], so an engine that stops training holds none.
  *
  * Every piece is a pure function of its index, and results come back in
  * index order, so a pooled fit returns exactly what the sequential loop
  * returns.
  */
object FitPool {

  val Threads: Int = math.max(1, Runtime.getRuntime.availableProcessors)
  private val IdleSeconds = 30L

  private final class Worker(r: Runnable, id: Int)
      extends Thread(r, s"graft-fit-$id") {
    setDaemon(true)
  }

  private lazy val pool: ThreadPoolExecutor = {
    val ids = new AtomicInteger()
    val p = new ThreadPoolExecutor(Threads, Threads, IdleSeconds, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), new ThreadFactory {
        def newThread(r: Runnable): Thread = new Worker(r, ids.incrementAndGet())
      })
    p.allowCoreThreadTimeOut(true)
    p
  }

  /** `Array.tabulate(n)(f)`, with the `f(i)` run on the pool. A call from
    * a pool thread runs inline, so a pooled piece never waits on pieces
    * queued behind it.
    */
  def tabulate[T: ClassTag](n: Int)(f: Int => T): Array[T] =
    if (n <= 1 || Threads == 1 || Thread.currentThread.isInstanceOf[Worker])
      Array.tabulate(n)(f)
    else {
      val futures: Array[Future[T]] = Array.tabulate(n)(i =>
        pool.submit(new Callable[T] { def call(): T = f(i) }))
      try futures.map(_.get)
      catch {
        case e: ExecutionException =>
          futures.foreach(_.cancel(true))
          throw e.getCause
        case e: InterruptedException =>
          futures.foreach(_.cancel(true))
          throw e
      }
    }
}
