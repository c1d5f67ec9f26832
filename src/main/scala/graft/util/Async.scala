package graft.util

import java.util.concurrent.{CompletableFuture, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.LocalPropertiesBridge

/** Driver-thread overlap for INDEPENDENT deterministic legs of one query
  * (guide §2.6): Spark's scheduler happily runs several jobs at once —
  * actions are only sequential because driver code calls them
  * sequentially. A leg whose value does not depend on any other leg
  * (a retrain for the NEXT index generation, a stream-input staging
  * write, one of SCC's two colorings) can run on a pooled thread so its
  * stages back-fill the cores the calling thread's per-action tail leaves
  * idle.
  *
  * Use only for legs with no shared mutable state; values must be
  * identical regardless of execution order (all graft legs are
  * deterministic functions of their frozen inputs).
  *
  * A leg runs under the Spark local properties (job description and
  * group, scheduler pool) of the thread that submitted it. Those are
  * thread-local and a thread copies its creator's only once, at creation,
  * so a pooled thread left alone would label every later leg's jobs with
  * whatever phase first created it. The pool thread's own properties are
  * put back when the leg ends.
  *
  * Legs run on one dedicated pool of [[PoolSize]] named daemon threads
  * (`graft-async-N`), never the JVM common ForkJoinPool. A leg started
  * from a pool thread runs inline on that thread, so no leg ever waits on
  * a pool slot and nested use cannot deadlock. A leg's exception surfaces
  * at `join()` either way.
  */
object Async {

  /** The widest overlap any query has: two legs beside its own thread. */
  val PoolSize = 2

  private final class LegThread(r: Runnable, n: Int)
      extends Thread(r, s"graft-async-$n") {
    setDaemon(true)
  }

  private val threads = new AtomicInteger()

  private val pool: ExecutorService = Executors.newFixedThreadPool(PoolSize,
    (r: Runnable) => new LegThread(r, threads.incrementAndGet()))

  def future[A](body: => A): CompletableFuture[A] =
    if (Thread.currentThread().isInstanceOf[LegThread])
      try CompletableFuture.completedFuture(body)
      catch { case NonFatal(e) => CompletableFuture.failedFuture[A](e) }
    else {
      val carried = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
        .map(s => (s.sparkContext, LocalPropertiesBridge.capture(s.sparkContext)))
      CompletableFuture.supplyAsync(() => carried match {
        case Some((sc, props)) => LocalPropertiesBridge.withProperties(sc, props)(body)
        case None => body
      }, pool)
    }
}
